package perfbench

import java.io.File

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One closed-loop benchmark run in one JVM: session start, setup
  * repetitions, a first pass over each op template, then steady-state ops
  * until the measuring time is spent. Writes every raw sample (and, traced,
  * every span, job and scan) as JSON; `run.py` turns them into metrics.
  *
  * Args: --spec --out --work --seconds --max-seconds --trace
  * --slots --setup-reps [--digests]. */
object Main {
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  private def secs(from: Long): Double = (System.nanoTime() - from) / 1e9

  /** Used heap after forced GCs, plus Spark storage blocks held on disk
    * (blocks held in memory are already part of the heap). GC repeats until
    * the heap settles: Spark's cleaner frees the blocks of collected RDDs
    * asynchronously, after the GC that found them. */
  private def retainedHeapMb(spark: SparkSession): Double = {
    val rt = Runtime.getRuntime
    def usedAfterGc(): Double = {
      System.gc()
      Thread.sleep(300)
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }
    var prev = -1.0
    var now = usedAfterGc()
    var rounds = 1
    while (rounds < 8 && math.abs(now - prev) > 0.5) {
      prev = now
      now = usedAfterGc()
      rounds += 1
    }
    now + spark.sparkContext.getRDDStorageInfo.map(_.diskSize).sum / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    val mapper = new ObjectMapper()
    val spec = mapper.readTree(new File(a("spec")))
    val trace = a("trace") == "1"
    val slots = a("slots").toInt

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val jobs = new JobListener
    val plans = new PlanListener
    if (trace) {
      sc.addSparkListener(jobs)
      spark.listenerManager.register(plans)
    }
    val rec = new Recorder(sc, trace)
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = secs(t0)

    val workload = spec.get("workload").asText
    val wl: Workload = workload match {
      case "mortar_read" | "wide_store_lookup" => new ReadWorkload(spark, spec, a("work"))
      case "mortar_ingest" => new IngestWorkload(spark, spec, a("work"))
      case "operator_mix" =>
        val pinned = a.get("digests").map(new File(_)).filter(_.exists).map(mapper.readTree)
        val digests = pinned.map(_.fields.asScala.map(e =>
          e.getKey -> e.getValue.elements.asScala.map(_.asLong).toSeq).toMap).getOrElse(Map.empty)
        new OperatorWorkload(spark, spec, digests)
    }

    def events(): Map[String, Any] =
      if (!trace) Map.empty
      else {
        PerfbenchBus.drain(sc)
        Map(
          "jobs" -> jobs.take().map(j => Map("id" -> j.id, "span" -> j.span,
            "start" -> j.start, "end" -> j.end, "stages" -> j.stages,
            "tasks" -> j.tasks.get, "input_bytes" -> j.inputBytes.get,
            "shuffle_write" -> j.shuffleWrite.get, "shuffle_read" -> j.shuffleRead.get,
            "spill" -> j.spill.get, "output_bytes" -> j.outputBytes.get, "gc_ms" -> j.gcMs.get)),
          "scans" -> plans.take().map(s => Map("func" -> s.func, "files" -> s.files,
            "bytes" -> s.bytes, "rows" -> s.rows)))
      }

    val setups = (0 until a("setup-reps").toInt).map { r =>
      rec.op = -1 - r
      val s = System.nanoTime()
      val facts = wl.setup(r, rec)
      Map("s" -> secs(s), "facts" -> facts) ++ events()
    }

    // The ops come in cycles that hold every template. The first cycle is
    // the first pass; steady-state cycles follow until the measuring time
    // is spent, so every run measures whole cycles.
    val cycles = spec.get("ops").elements.asScala.toIndexedSeq
      .grouped(spec.get("cycle").asInt).toIndexedSeq
    val records = mutable.ArrayBuffer[Map[String, Any]]()
    def exec(op: JsonNode, phase: String, traced: Boolean): Unit = {
      rec.enabled = traced
      rec.op = records.size
      val s = System.nanoTime()
      val out =
        try wl.run(op, rec)
        catch { case e: Throwable => Outcome(0L, ok = false, e.toString.take(500)) }
      val ms = (System.nanoTime() - s) / 1e6
      // observed after every op of a traced run, so a traced op's facts
      // never include what the untraced ops before it did
      val observed = if (trace) wl.observe() else Map.empty
      records += Map("phase" -> phase, "template" -> op.get("template").asText,
        "ms" -> ms, "ok" -> out.ok, "rows" -> out.rows, "traced" -> traced,
        "detail" -> out.detail, "facts" -> (if (traced) out.facts ++ observed else out.facts)) ++
        (if (trace) events() else Map.empty)
    }

    // First pass: the first cycle. A second, untimed cycle lets the JIT
    // settle, then the heap is measured after this fixed amount of work (so
    // a faster tree is not charged for running more ops), and steady-state
    // cycles run until the measuring time is spent.
    val seen = mutable.Set[String]()
    cycles.head.foreach { op =>
      exec(op, if (seen.add(op.get("template").asText)) "first" else "warm", trace)
    }
    cycles.slice(1, 2).flatten.foreach(exec(_, "warm", traced = false))
    rec.enabled = false
    val retainedMb = retainedHeapMb(spark)
    val seconds = a("seconds").toDouble
    val maxSeconds = a("max-seconds").toDouble
    val steadyStart = System.nanoTime()
    var steady = 0
    val rest = cycles.iterator.drop(2)
    while (rest.hasNext && secs(steadyStart) < seconds.min(maxSeconds)) {
      rest.next().foreach { op =>
        exec(op, "steady", trace && steady % 2 == 1)
        steady += 1
      }
    }
    val steadyS = secs(steadyStart)

    rec.enabled = false
    val rt = Runtime.getRuntime
    val storeSummary = wl.summary()

    val result = Map(
      "env" -> Map("slots" -> slots,
        "heap_max_mb" -> rt.maxMemory / 1048576, "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version),
      "session_s" -> sessionS,
      "setups" -> setups,
      "ops" -> records.toSeq,
      "steady_s" -> steadyS,
      "retained_heap_mb" -> retainedMb,
      "summary" -> storeSummary,
      "spans" -> rec.spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
        "op" -> s.op, "parent" -> s.parent, "start" -> s.start, "end" -> s.end)))
    mapper.writeValue(new File(a("out")), toJava(result))
    spark.stop()
  }

  private def toJava(x: Any): Any = x match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, v) => out.put(k.toString, toJava(v)) }
      out
    case s: Seq[_] => s.map(toJava).asJava
    case other => other
  }
}
