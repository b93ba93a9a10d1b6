package perfbench

import com.fasterxml.jackson.databind.JsonNode

import scala.jdk.CollectionConverters._

import graft.Engine
import graft.sources.{Ingest, StatsIndex}
import graft.sparql.Sparql
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{In, InSet}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** What one op returned: rows delivered, whether it matched the generator's
  * expected answer, and traced-only facts about its layers. */
final case class Outcome(rows: Long, ok: Boolean, detail: String = "",
    facts: Map[String, Any] = Map.empty)

/** One workload: `setup` builds everything the ops need (called once per
  * setup repetition; the last one serves the ops), `run` executes one op.
  * In a traced run, `observe` runs untimed after each op and returns layer
  * facts that need a listing of the store. */
trait Workload {
  def setup(rep: Int, rec: Recorder): Map[String, Any]
  def run(op: JsonNode, rec: Recorder): Outcome
  def observe(): Map[String, Any] = Map.empty
  def summary(): Map[String, Any] = Map.empty
}

object Workload {
  def str(n: JsonNode, k: String): Option[String] =
    Option(n.get(k)).filterNot(_.isNull).map(_.asText)

  /** (files, bytes) of the parquet fragments under `root`. */
  def parquetFiles(spark: SparkSession, root: String): (Long, Long) = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (0L, 0L)
    val it = fs.listFiles(p, true)
    var files, bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { files += 1; bytes += f.getLen }
    }
    (files, bytes)
  }

  def duBytes(spark: SparkSession, root: String): Long = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  def delete(spark: SparkSession, root: String): Unit = {
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

/** Mortar reads (`mortar_read`, `wide_store_lookup`): the store is ingested
  * from the generated CSVs, indexed, and served through `Engine`. */
final class ReadWorkload(spark: SparkSession, spec: JsonNode, work: String) extends Workload {
  import Workload._
  private var engine: Engine = _
  private var store, stats: String = _

  def setup(rep: Int, rec: Recorder): Map[String, Any] = {
    val (prevStore, prevStats) = (store, stats)
    store = s"$work/store_$rep"
    stats = s"$work/stats_$rep"
    rec.span("Ingest.transform")(Ingest.transform(spark, "bench", spec.get("csv").asText, store))
    rec.span("StatsIndex.build")(StatsIndex.build(spark, store, stats))
    val e = rec.span("Engine.apply")(
      Engine.apply(spark, spec.get("graphs").asText, store, Some(spec.get("ontology").asText)))
    val quads = rec.span("Turtle.load")(e.quads.count())
    if (engine != null) engine.quads.unpersist()
    engine = e
    if (prevStore != null) { delete(spark, prevStore); delete(spark, prevStats) }
    if (!rec.enabled) Map.empty
    else {
      val partitions = e.fact.inputFiles.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.length
      val (files, bytes) = parquetFiles(spark, store)
      Map("quads" -> quads, "partitions_listed" -> partitions,
        "files_written" -> files, "bytes_written" -> bytes)
    }
  }

  def run(op: JsonNode, rec: Recorder): Outcome = {
    val q = op.get("query").asText
    val sites = Option(op.get("sites")).filterNot(_.isNull)
      .map(_.elements.asScala.map(_.asText).toSeq).getOrElse(Nil)
    val start = str(op, "start").getOrElse(Engine.DefaultStart)
    val end = str(op, "end").getOrElse(Engine.DefaultEnd)
    val want = op.get("rows").asLong
    if (rec.enabled) rec.span("Sparql.parse")(Sparql.parse(q))
    op.get("delivery").asText match {
      case "count" =>
        val df = rec.span("BgpPlanner.resolve")(engine.dataSparql(q, sites, start, end))
        val n = rec.span("Engine.scan")(df.count())
        val facts: Map[String, Any] =
          if (rec.enabled) Map("ids" -> inListSize(df)) else Map.empty
        Outcome(n, n == want, if (n == want) "" else s"rows $n != $want", facts)
      case "drain" =>
        val it = rec.span("BgpPlanner.resolve")(engine.dataSparqlBatches(q, sites, start, end))
        var rows, vsum, tsum = 0L
        var ti, vi = -1
        rec.span("Engine.sink")(it.foreach(_.foreach { r =>
          if (ti < 0) { ti = r.fieldIndex("time"); vi = r.fieldIndex("value") }
          rows += 1
          vsum += r.getDouble(vi).toLong
          tsum += r.getTimestamp(ti).getTime / 1000
        }))
        val got = (rows, vsum, tsum)
        val exp = (want, op.get("vsum").asLong, op.get("tsum").asLong)
        Outcome(rows, got == exp, if (got == exp) "" else s"(rows, vsum, tsum) $got != $exp")
    }
  }

  /** Stream ids the pruned scan was planned with (the IN-list size). */
  private def inListSize(df: DataFrame): Long =
    df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
      case i: In => i.list.size.toLong
      case s: InSet => s.hset.size.toLong
    })).sum

  override def summary(): Map[String, Any] = Map(
    "store_bytes" -> duBytes(spark, store), "stats_bytes" -> duBytes(spark, stats),
    "csv_bytes" -> spec.get("csv_bytes").asLong)
}

/** `mortar_ingest`: each op lands one batch of stream CSVs, refreshes the
  * stats index and reads the batch back through the pruned scan. */
final class IngestWorkload(spark: SparkSession, spec: JsonNode, work: String) extends Workload {
  import Workload._
  private var store, stats: String = _
  private var ingestedCsvBytes = 0L
  private var lastFiles = (0L, 0L)

  def setup(rep: Int, rec: Recorder): Map[String, Any] = {
    val (prevStore, prevStats) = (store, stats)
    store = s"$work/store_$rep"
    stats = s"$work/stats_$rep"
    rec.span("Ingest.transform")(Ingest.transform(spark, "bench", spec.get("csv").asText, store))
    rec.span("StatsIndex.build")(StatsIndex.build(spark, store, stats))
    ingestedCsvBytes = spec.get("csv_bytes").asLong
    if (prevStore != null) { delete(spark, prevStore); delete(spark, prevStats) }
    if (!rec.enabled) Map.empty
    else {
      lastFiles = parquetFiles(spark, store)
      Map("files_written" -> lastFiles._1, "bytes_written" -> lastFiles._2)
    }
  }

  def run(op: JsonNode, rec: Recorder): Outcome = {
    val ids = op.get("ids").elements.asScala.map(_.asText).toSeq
    val (start, end) = (op.get("start").asText, op.get("end").asText)
    rec.span("Ingest.transform")(Ingest.transform(spark, "bench", op.get("dir").asText, store))
    val st = rec.span("StatsIndex.refresh")(StatsIndex.refresh(spark, store, stats))
    val r = rec.span("StatsIndex.verify")(StatsIndex.prunedScan(spark, st, store, ids, start, end)
      .agg(count(lit(1)), sum(col("value")), sum(expr("unix_seconds(time)"))).head())
    ingestedCsvBytes += op.get("csv_bytes").asLong
    val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getDouble(1).toLong,
      if (r.isNullAt(2)) 0L else r.getLong(2))
    val exp = (op.get("rows").asLong, op.get("vsum").asLong, op.get("tsum").asLong)
    Outcome(op.get("csv_rows").asLong, got == exp,
      if (got == exp) "" else s"(rows, vsum, tsum) $got != $exp")
  }

  /** Fragments written by the last op (a listing of the store, untimed). */
  override def observe(): Map[String, Any] = {
    val now = parquetFiles(spark, store)
    val out = Map("files_written" -> (now._1 - lastFiles._1),
      "bytes_written" -> (now._2 - lastFiles._2), "fragments_listed" -> now._1)
    lastFiles = now
    out
  }

  override def summary(): Map[String, Any] = Map(
    "store_bytes" -> duBytes(spark, store), "stats_bytes" -> duBytes(spark, stats),
    "csv_bytes" -> ingestedCsvBytes)
}

/** `operator_mix`: `SparkEntry.queries` over generated tables. Each op is
  * construction plus an order-independent digest of the result, compared
  * with the digest pinned for that query. */
final class OperatorWorkload(spark: SparkSession, spec: JsonNode, digests: Map[String, Seq[Long]])
    extends Workload {
  private val dir = spec.get("tables").asText
  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala

  def setup(rep: Int, rec: Recorder): Map[String, Any] = {
    Seq("orders", "customer", "nation", "lineitem", "documents", "embeddings")
      .foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
    Map.empty
  }

  private def gcMs: Long = gcBeans.map(_.getCollectionTime).sum

  def run(op: JsonNode, rec: Recorder): Outcome = {
    val name = op.get("query").asText
    val gc0 = gcMs
    val df = rec.span("operators.construct")(graft.SparkEntry.queries(name)(spark, dir))
    val d = rec.span("operators.action")(OperatorWorkload.digest(df))
    val facts: Map[String, Any] =
      if (!rec.enabled) Map("digest" -> d)
      else Map("digest" -> d, "gc_ms" -> (gcMs - gc0), "pinned_mb" -> Main.storageMb(spark))
    digests.get(name) match {
      case Some(want) => Outcome(d.head, d == want,
        if (d == want) "" else s"digest $d != $want", facts)
      case None => Outcome(d.head, ok = false, s"no pinned digest for $name", facts)
    }
  }
}

object OperatorWorkload {
  /** (rows, xor, low-bit sum) of per-row xxhash64 over every column
    * rendered as text, doubles rounded to 6 decimals: independent of row
    * order and of partial-sum order. */
  def digest(df: DataFrame): Seq[Long] = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      val text = f.dataType match {
        case DoubleType | FloatType => round(c.cast("double"), 6).cast("string")
        case ArrayType(DoubleType | FloatType, _) =>
          transform(c, x => round(x.cast("double"), 6)).cast("string")
        case _ => c.cast("string")
      }
      coalesce(text, lit("\u0000null"))
    }
    val r = df.select(xxhash64(concat_ws("\u0001", cols: _*)).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)"), sum(col("h").bitwiseAND(0xFFFFFFL)))
      .head()
    Seq(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}
