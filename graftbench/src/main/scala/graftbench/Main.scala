package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.BenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** What one workload run hands back to [[Main]]: ops attempted and
  * failed, whether every output matched its reference, the end-to-end
  * metrics (untraced), the per-layer metrics (traced runs only) and the
  * figures only some workloads have, printed on the witness line.
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    correct: Boolean,
    endToEnd: Seq[(String, Double, String)],
    perLayer: Seq[(String, Double)],
    extra: Seq[(String, Double, String)],
    notes: Seq[String])

/** Shared run context: the session, the generated inputs and the span
  * ledger (which only traced runs open spans on).
  */
final class Ctx(
    val spark: SparkSession,
    val work: Path,
    val manifest: JsonNode,
    val trace: Boolean,
    val cores: Int,
    val sessionStartS: Double) {
  val spans: Spans = new Spans(spark.sparkContext, cores)
  def drain(): Unit = BenchBridge.drainListeners(spark.sparkContext)
  def dir(name: String): String = work.resolve(name).toString
  /** `body` inside span `name` when `on`, else untimed. */
  def span[T](on: Boolean, name: String)(body: SpanRec => T): T =
    if (on) spans.span(name)(body) else body(new SpanRec(-1, name, -1))
}

/** Benchmark harness entry point (one JVM per run):
  * `graftbench.Main --workload <name> --seed <n> --trace <0|1> --work <dir>`.
  * `run.py` builds the classpath, generates the inputs into `--work`
  * and relays the last stdout line, the result JSON.
  */
object Main {
  val Cores = 4
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "cdc_stream_cow" -> CdcCow.run,
    "lake_mor_mixed" -> LakeMor.run,
    "dedup_stream" -> DedupIngest.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = Paths.get(opts("work")).toAbsolutePath
    val trace = opts.getOrElse("trace", "0") == "1"

    val load0 = loadAvg()
    val cpu0 = cpuTicks()
    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder("graftbench", s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.catalog.graft.root", work.resolve("warehouse").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val taskMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) taskMs.addAndGet(e.taskMetrics.executorRunTime)
    })
    def runIn(name: String, dir: Path): Outcome = {
      val manifest = new ObjectMapper().readTree(dir.resolve("manifest.json").toFile)
      val ctx = new Ctx(spark, dir, manifest, trace, Cores, sessionS)
      try Workloads(name)(ctx) finally ctx.drain()
    }
    if (workload == "train") {
      // one untimed pass over every workload's small inputs, which
      // run.py makes after a build to record the class-data archive
      Workloads.keys.toSeq.sorted.foreach(w => runIn(w, work.resolve(w)))
      spark.stop()
      return
    }
    val out = runIn(workload, work)

    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6
    val gcS = gcSeconds() - gc0
    val witness = Seq(
      "workload" -> q(workload), "seed" -> opts.getOrElse("seed", "0"),
      "trace" -> (if (trace) "1" else "0"),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "loadavg_start" -> f"$load0%.2f", "loadavg_end" -> f"${loadAvg()}%.2f",
      "cpu_steal_share" -> f"${stealShare(cpu0, cpuTicks())}%.3f",
      "task_s" -> f"${taskMs.get / 1e3}%.3f", "gc_s" -> f"$gcS%.3f",
      "heap_peak_mb" -> f"$heapPeakMb%.1f", "session_start_s" -> f"$sessionS%.3f",
      "figures" -> out.extra.map { case (n, v, u) => s"${q(n)}: {${q("value")}: ${num(v)}, ${q("unit")}: ${q(u)}}" }
        .mkString("{", ", ", "}"),
      "notes" -> out.notes.map(q).mkString("[", ", ", "]"))
    println(witness.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}"))

    val metrics =
      if (trace)
        (out.perLayer ++ Seq("jvm.gc_s" -> gcS, "jvm.heap_peak_mb" -> heapPeakMb))
          .map { case (n, v) => s"${q(n)}: {${q("value")}: ${num(v)}, ${q("unit")}: ${q(PerLayerUnits(n))}}" }
      else
        out.endToEnd.map { case (n, v, u) => s"${q(n)}: {${q("value")}: ${num(v)}, ${q("unit")}: ${q(u)}}" }
    println(s"""{"correct": ${out.correct}, "attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": ${metrics.mkString("{", ", ", "}")}}""")
    spark.stop()
  }

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString

  def loadAvg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (steal, total) jiffies of all CPUs from /proc/stat. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Throwable => (0L, 0L) }

  /** Share of the host's CPU time the hypervisor gave to other guests
    * between two [[cpuTicks]] readings: what a slow run on a shared
    * host lost to its neighbours.
    */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 <= a._2) 0.0 else (b._1 - a._1).toDouble / (b._2 - a._2)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val born = System.nanoTime()
  /** Progress line on stderr (run.py keeps it in the run's jvm.log). */
  def log(msg: String): Unit = System.err.println(f"[graftbench ${seconds(born)}%8.2f s] $msg")

  def median(xs: Seq[Double]): Double = LayerMetrics.median(xs)

  /** The value with `frac` of the sorted sample at or below it. */
  def quantile(xs: Seq[Double], frac: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(frac * s.size).toInt - 1)))
  }

  /** Order-independent content hash of a table: row count plus the sum
    * of per-row xxhash64 over the columns in name order, so two tables
    * agree exactly when they hold the same multiset of rows.
    */
  def tableHash(df: DataFrame): (String, Long) = {
    val cols = df.columns.sorted
    val r = df.select(cols.map(col): _*)
      .agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")))
      .head()
    (s"${cols.mkString(",")}|${r.getLong(0)}|${Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)}",
      r.getLong(0))
  }

  /** Files under `root` with their sizes. */
  def listFiles(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  /** Bytes of the files the table's current snapshot reads. */
  def snapshotBytes(spark: SparkSession, root: String): Long =
    graft.cdc.MergeTable.open(spark, root).read().inputFiles
      .map(f => Files.size(Paths.get(new java.net.URI(f)))).sum

  val PerLayerUnits: String => String = { n =>
    val m = n.substring(n.lastIndexOf('.') + 1)
    if (m.endsWith("_s")) "s"
    else if (m.endsWith("_mb")) "MB"
    else if (m.endsWith("ratio") || m == "write_amp") "ratio"
    else "count"
  }
}
