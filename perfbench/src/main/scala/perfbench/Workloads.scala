package perfbench

import graft.SparkEntry
import graft.metrics.EtlMetrics
import graft.pipeline.Pipeline
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Output checks of one run. Each check counts as one attempted
  * operation, and a failed check as one failed operation.
  */
final class Checks {
  val failures = mutable.ArrayBuffer.empty[String]
  val notes = mutable.ArrayBuffer.empty[String]
  var attempted = 0

  def apply(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) failures += s"$name: $detail"
  }
}

/** One pass: its wall time, the latencies of its operations by kind (a
  * query's name, a medallion stage), how many operations were attempted
  * and failed, the pass span of a traced pass and the workload's own
  * per-layer figures.
  */
final case class Pass(wallS: Double, ops: Seq[(String, Double)], attempted: Int,
                      failed: Int, spanId: Int = -1,
                      layer: Map[String, Double] = Map.empty)

trait Workload {
  def name: String
  /** Untimed passes between the set-up and the timed window. The JIT keeps
    * compiling through the first passes of a fresh JVM, for more passes on
    * some workloads than on others (NOTES.md).
    */
  def warmupPasses: Int
  /** The first, untimed pass after a session start; checks outputs. */
  def setup(spark: SparkSession, checks: Checks): Unit
  def pass(spark: SparkSession, trace: Option[Trace], checks: Checks): Pass
  /** Checks run after the timed passes. */
  def finalChecks(spark: SparkSession, checks: Checks): Unit
}

object Workloads {

  val Names: Seq[String] = Seq(Etl.Name, "queries_overhead")

  def make(name: String, seed: Long, work: String, bench: String): Workload = name match {
    case Etl.Name => new Etl(seed, s"$work/etl")
    case "queries_overhead" => new Sweep(name, seed, bench, pin = false)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (known: ${Names.mkString(", ")})")
  }

  /** Runs `body` in a span when tracing, plainly otherwise. */
  def call[T](trace: Option[Trace], name: String, layer: String, parent: Int)(
      body: => T): (T, Int) = trace match {
    case Some(t) => t.within(name, layer, parent)(body)
    case None => (body, -1)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally all.close()
    }

  /** (files, bytes) of the visible data files under `dir`: names not
    * starting with `.` or `_`, as Hadoop readers see them.
    */
  def dataFiles(dir: String): (Long, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return (0L, 0L)
    val all = Files.walk(root)
    try {
      val files = all.iterator().asScala.filter(Files.isRegularFile(_))
        .filter { f =>
          root.relativize(f).iterator().asScala.forall { c =>
            val n = c.toString
            !n.startsWith(".") && !n.startsWith("_")
          }
        }.toSeq
      (files.size.toLong, files.map(Files.size).sum)
    } finally all.close()
  }

  val MiB: Double = 1024.0 * 1024.0
}

/** `etl_50k`: `Pipeline.run` over a seeded corpus of [[Etl.Rows]] rows
  * served as 200-row pages. The only workload that writes.
  */
object Etl {
  val Name = "etl_50k"
  val Rows = 50000

  /** EtlMetrics stage names and the layer each belongs to. */
  val Stages: Seq[(String, String, String)] = Seq(
    ("extract_brewery_data", "sources", "sources.extract_s"),
    ("landing_to_bronze", "pipeline", "pipeline.bronze_s"),
    ("bronze_to_silver", "pipeline", "pipeline.silver_s"),
    ("silver_to_gold", "pipeline", "pipeline.gold_s"))

  /** One stage as the benchmark-owned EtlMetrics reported it. */
  final case class Stage(op: String, end: Long, seconds: Double)

  private val DurationLine =
    """duration brewery_etl_processing_duration_secondsMap\(operation -> (\w+)\) = (\S+) s""".r
}

final class Etl(seed: Long, root: String) extends Workload {
  import Etl.Stage
  import Workloads._
  val name: String = Etl.Name
  val warmupPasses = 3

  /** Generated before any timing. */
  val corpus: BreweryCorpus.Corpus = BreweryCorpus.generate(seed, Etl.Rows)
  private val layout = Pipeline.Layout(root)

  private def runPipeline(spark: SparkSession, trace: Option[Trace], parent: Int)
      : (Option[Pipeline.RunResult], Seq[Stage], Int) = {
    val stages = mutable.ArrayBuffer.empty[Stage]
    var failedAttempts = 0
    val clock: () => Long = trace.map(t => () => t.now()).getOrElse(() => System.nanoTime())
    val metrics = new EtlMetrics({
      case Etl.DurationLine(op, s) => stages += Stage(op, clock(), s.toDouble)
      case l if l.startsWith("counter brewery_etl_operations_total") &&
          l.contains("status -> failure") => failedAttempts += 1
      case _ => ()
    })
    val (result, runSpan) = call(trace, "Pipeline.run", "pipeline", parent) {
      try Some(Pipeline.run(spark, new BreweryCorpus.Source(corpus),
        BreweryCorpus.Schema, layout, metrics, BreweryCorpus.PerPage,
        csvGold = false, runTag = "bench", retryDelayMillis = 0))
      catch { case e: Exception =>
        System.err.println(s"[perfbench] Pipeline.run failed: $e")
        None
      }
    }
    trace.foreach { t =>
      stages.foreach { s =>
        val layer = Etl.Stages.find(_._1 == s.op).map(_._2).getOrElse("pipeline")
        t.add(s.op, layer, runSpan, s.end - (s.seconds * 1e9).toLong, s.end)
      }
    }
    (result, stages.toSeq, failedAttempts)
  }

  private def countChecks(r: Option[Pipeline.RunResult], checks: Checks): Unit =
    r.foreach { res =>
      checks("landing pages equal generated pages",
        res.landingFiles == corpus.pages.length,
        s"${res.landingFiles} != ${corpus.pages.length}")
      checks("bronze rows equal generated rows", res.bronzeRows == corpus.rows,
        s"${res.bronzeRows} != ${corpus.rows}")
      checks("silver plus quarantine equals bronze",
        res.silverRows + res.quarantineRows == res.bronzeRows,
        s"${res.silverRows} + ${res.quarantineRows} != ${res.bronzeRows}")
      checks("quarantine equals the planted null-key rows",
        res.quarantineRows == corpus.nullKeyRows,
        s"${res.quarantineRows} != ${corpus.nullKeyRows}")
    }

  private def onePass(spark: SparkSession, trace: Option[Trace],
                      checks: Checks): Pass = {
    deleteTree(Paths.get(root))
    val passSpan = trace.map(_.open("pass", "bench", -1)).getOrElse(-1)
    val t0 = System.nanoTime()
    val (result, stages, failedAttempts) = runPipeline(spark, trace, passSpan)
    val wall = (System.nanoTime() - t0) / 1e9
    trace.foreach(_.close(passSpan))
    countChecks(result, checks)
    val failed = failedAttempts + (if (result.isEmpty) 1 else 0)
    val layer =
      if (trace.isEmpty) Map.empty[String, Double]
      else {
        val (_, landingBytes) = dataFiles(layout.landing)
        val written = Seq(layout.bronze, layout.silver, layout.quarantine,
          s"$root/gold").map(dataFiles)
        val writtenBytes = written.map(_._2).sum.toDouble
        Etl.Stages.map { case (op, _, metric) =>
          metric -> stages.filter(_.op == op).map(_.seconds).sum
        }.toMap ++ Map(
          "sources.pages" -> result.map(_.landingFiles.toDouble).getOrElse(0.0),
          "sources.landing_mb" -> landingBytes / MiB,
          "pipeline.files_written" -> written.map(_._1).sum.toDouble,
          "pipeline.bytes_written_mb" -> writtenBytes / MiB,
          "pipeline.write_amp" -> writtenBytes / math.max(1L, landingBytes))
      }
    Pass(wall, stages.map(s => s.op -> s.seconds), math.max(1, stages.size), failed,
      passSpan, layer)
  }

  def setup(spark: SparkSession, checks: Checks): Unit = {
    val p = onePass(spark, None, checks)
    checks("setup pass ran", p.failed == 0, s"${p.failed} failed stage attempts")
  }

  def pass(spark: SparkSession, trace: Option[Trace], checks: Checks): Pass =
    onePass(spark, trace, checks)

  def finalChecks(spark: SparkSession, checks: Checks): Unit = {
    val bronze = spark.read.parquet(layout.bronze).count()
    checks("bronze rows equal generated rows (read back)", bronze == corpus.rows,
      s"$bronze != ${corpus.rows}")
    val silver = spark.read.parquet(layout.silver).count()
    val quarantine = spark.read.parquet(layout.quarantine).count()
    checks("silver plus quarantine equals bronze (read back)",
      silver + quarantine == bronze, s"$silver + $quarantine != $bronze")
    checks("quarantine equals the planted null-key rows (read back)",
      quarantine == corpus.nullKeyRows, s"$quarantine != ${corpus.nullKeyRows}")
    def locations(df: DataFrame): Map[BreweryCorpus.LocationKey, Long] =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    val byLocation = locations(spark.read.parquet(layout.gold("by_location"))
      .select("location", "state", "city", "brewery_count"))
    val diff = (byLocation.keySet ++ corpus.byLocation.keySet)
      .count(k => byLocation.get(k) != corpus.byLocation.get(k))
    checks("gold by_location equals the generator's own count", diff == 0,
      s"$diff of ${corpus.byLocation.size} locations differ")
    val byType = spark.read.parquet(layout.gold("by_type_location"))
    val summed = locations(byType.groupBy("location", "state", "city")
      .agg(sum("brewery_count").cast(LongType).as("n"))
      .select("location", "state", "city", "n"))
    checks("by_type_location summed over brewery_type equals by_location",
      summed == byLocation, s"${summed.size} vs ${byLocation.size} groups")
    // Known defect, reported but not failed: Pipeline.run recodes
    // brewery_type against the fixture vocabulary, so every real type
    // lands in `other`.
    val total = byType.agg(sum("brewery_count")).head().getLong(0)
    val other = byType.filter(col("brewery_type") === "other")
      .agg(sum("brewery_count")).head()
    val otherRows = if (other.isNullAt(0)) 0L else other.getLong(0)
    checks.notes += f"gold brewery_type 'other' share ${otherRows.toDouble / total}%.3f " +
      "(known defect: recoded against Breweries.CanonicalTypes, not " +
      "Cleaning.StandardBreweryTypes)"
  }
}

/** A closed-loop sweep over a fixed list of declared queries, each built
  * through `SparkEntry.queries(name)` and materialized into the `noop`
  * sink. The seed sets the order of every pass.
  */
final class Sweep(val name: String, seed: Long, bench: String, pin: Boolean)
    extends Workload {
  import Workloads._

  private def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  /** `data <dir>` (relative to the benchmark directory), `warmup <passes>`,
    * then one query name per line.
    */
  private val (dataDir, warmup, queries) = lines(s"$bench/workloads/$name.txt") match {
    case d +: w +: qs if d.startsWith("data ") && w.startsWith("warmup ") =>
      (s"$bench/${d.stripPrefix("data ").trim}", w.stripPrefix("warmup ").trim.toInt, qs)
    case _ => throw new IllegalArgumentException(
      s"$name.txt must start with a `data <dir>` and a `warmup <passes>` line")
  }
  val warmupPasses: Int = warmup

  private val pinnedPath = s"$bench/pinned/$name.tsv"
  private lazy val pinned: Map[String, String] =
    lines(pinnedPath).map { l =>
      val Array(q, fp) = l.split("\t")
      q -> fp
    }.toMap

  private val known = SparkEntry.queries
  require(queries.forall(known.contains),
    s"unknown queries in $name: ${queries.filterNot(known.contains).mkString(", ")}")

  private val rng = new SplittableRandom(seed)

  private def order(): Seq[String] = {
    val a = queries.toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** Builds and fingerprints every query; compares to the pinned
    * fingerprints, or returns them when pinning.
    */
  def fingerprints(spark: SparkSession, checks: Checks, when: String): Map[String, String] =
    order().flatMap { q =>
      val fp =
        try Some(Fingerprint.of(known(q)(spark, dataDir)))
        catch { case e: Exception =>
          System.err.println(s"[perfbench] $q failed: $e")
          None
        }
        finally spark.catalog.clearCache()
      if (!pin) checks(s"$q fingerprint $when", fp.isDefined && fp == pinned.get(q),
        s"${fp.getOrElse("failed")} != pinned ${pinned.getOrElse(q, "missing")}")
      fp.map(q -> _)
    }.toMap

  def setup(spark: SparkSession, checks: Checks): Unit =
    fingerprints(spark, checks, "before the timed passes")

  def finalChecks(spark: SparkSession, checks: Checks): Unit =
    fingerprints(spark, checks, "after the timed passes")

  def pass(spark: SparkSession, trace: Option[Trace], checks: Checks): Pass = {
    val passSpan = trace.map(_.open("pass", "bench", -1)).getOrElse(-1)
    val t0 = System.nanoTime()
    var failed = 0
    val ops = order().map { q =>
      val q0 = System.nanoTime()
      val qSpan = trace.map(_.open(q, "queries", passSpan)).getOrElse(-1)
      try {
        val (df, _) = call(trace, "build", "queries", qSpan)(known(q)(spark, dataDir))
        call(trace, "exec", "queries", qSpan)(
          df.write.format("noop").mode("overwrite").save())
      } catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $q failed: $e")
      } finally trace.foreach(_.close(qSpan))
      val latency = (System.nanoTime() - q0) / 1e9
      spark.catalog.clearCache()
      q -> latency
    }
    val wall = (System.nanoTime() - t0) / 1e9
    trace.foreach(_.close(passSpan))
    Pass(wall, ops, ops.size, failed, passSpan)
  }
}

/** An order-independent fingerprint of a result: row count plus the sum
  * of per-row xxhash64 values. Floating-point values are hashed as their
  * nine-significant-digit rendering, so last-bit differences in
  * aggregation order do not change the fingerprint.
  */
object Fingerprint {
  private def needsNorm(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(e, _) => needsNorm(e)
    case StructType(fs) => fs.exists(f => needsNorm(f.dataType))
    case _ => false
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
    case ArrayType(e, _) if needsNorm(e) => transform(c, x => norm(x, e))
    case StructType(fs) if needsNorm(t) =>
      struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(k, v, _) =>
      array_sort(transform(map_entries(c), e => concat(
        norm(e.getField("key"), k).cast(StringType), lit("\u0001"),
        norm(e.getField("value"), v).cast(StringType))))
    case _ => c
  }

  def of(df: DataFrame): String = {
    val fields = df.schema.fields
    val positional = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.zipWithIndex.map { case (f, i) => norm(col(s"c$i"), f.dataType) }
    val r = positional.select(xxhash64(cols.toSeq: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val total = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    s"${r.getLong(0)}:$total"
  }
}
