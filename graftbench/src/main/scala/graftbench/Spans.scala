package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.{BenchBridge, SparkContext}
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One closed span instance: a named call into one layer, timed on the
  * client thread, with the Spark work its jobs did folded in.
  * `busyMs` is executor run time summed over tasks, so on `cores`
  * slots `wallMs - busyMs / cores` is the part no task covered.
  */
final class SpanRec(val id: Long, val name: String, val parent: Long) {
  @volatile var wallMs: Double = 0.0
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val busyMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val inputBytes = new AtomicLong
  /** Counts the caller attaches (rows out, commits, files, ...). */
  val counts = new ConcurrentHashMap[String, Double]()
  def add(key: String, v: Double): Unit = counts.merge(key, v, (a, b) => a + b)
  def count(key: String): Double = counts.getOrDefault(key, 0.0)
}

/** Span ledger: the open span travels to Spark as a local property of
  * the submitting thread, and one listener attributes every job, stage
  * and task to the span that was open when its job started. Children
  * roll up into their parents when the ledger is read, so a span's
  * figures are inclusive.
  */
final class Spans(sc: SparkContext, cores: Int) {
  private val Prop = "graftbench.span"
  private val nextId = new AtomicLong
  private val recs = new ConcurrentHashMap[Long, SpanRec]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  // SQL execution id → span, and files each execution's scans read:
  // "number of files read" is a driver-side metric, posted without the
  // submitting thread's properties, so it joins its span through the
  // execution id its jobs carry
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val execFiles = new ConcurrentHashMap[Long, java.lang.Long]()

  sc.addSparkListener(new SparkListener {
    private def spanOf(props: java.util.Properties): Option[SpanRec] =
      Option(props).flatMap(p => Option(p.getProperty(Prop)))
        .flatMap(id => Option(recs.get(id.toLong)))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { r =>
        r.jobs.incrementAndGet()
        e.stageIds.foreach(s => stageSpan.put(s, r.id))
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execSpan.putIfAbsent(x.toLong, r.id))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case u: org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates =>
        val files = u.accumUpdates.collect {
          case (id, v) if BenchBridge.accumulatorName(id).contains("number of files read") => v
        }.sum
        if (files > 0) execFiles.merge(u.executionId, files, (a, b) => a + b)
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).flatMap(id => Option(recs.get(id)))
        .foreach { r =>
          // a stage skipped because its shuffle output already exists
          // never submits tasks; count only stages that ran
          if (e.stageInfo.submissionTime.isDefined) r.stages.incrementAndGet()
        }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).flatMap(id => Option(recs.get(id)))
        .foreach { r =>
          val m = e.taskMetrics
          if (m != null) {
            r.busyMs.addAndGet(m.executorRunTime)
            r.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            r.spillBytes.addAndGet(m.diskBytesSpilled)
            r.inputBytes.addAndGet(m.inputMetrics.bytesRead)
          }
        }
  })

  /** Time `body` as span `name` on this thread; `body` may attach
    * counts to the record it is handed.
    */
  def span[T](name: String)(body: SpanRec => T): T = {
    val parent = stack.get().headOption.getOrElse(-1L)
    val rec = new SpanRec(nextId.incrementAndGet(), name, parent)
    recs.put(rec.id, rec)
    val prevProp = sc.getLocalProperty(Prop)
    stack.set(rec.id :: stack.get())
    sc.setLocalProperty(Prop, rec.id.toString)
    val t0 = System.nanoTime()
    try body(rec)
    finally {
      rec.wallMs = (System.nanoTime() - t0) / 1e6
      stack.set(stack.get().tail)
      sc.setLocalProperty(Prop, prevProp)
    }
  }

  /** Every closed span, with job/task figures rolled up from children.
    * Call after [[org.apache.spark.BenchBridge.drainListeners]].
    */
  def closed(): Seq[SpanView] = {
    execFiles.asScala.foreach { case (x, n) =>
      Option(execSpan.get(x)).flatMap(id => Option(recs.get(id))).foreach(_.add("files_read", n.toDouble))
    }
    execFiles.clear()
    val all = recs.values().asScala.toSeq
    val kids = all.groupBy(_.parent)
    def sub(r: SpanRec): Seq[SpanRec] = r +: kids.getOrElse(r.id, Nil).flatMap(sub)
    all.sortBy(_.id).map { r =>
      val tree = sub(r)
      SpanView(r.name, r.wallMs / 1e3,
        tree.map(_.busyMs.get).sum / 1e3,
        tree.map(_.jobs.get).sum, tree.map(_.stages.get).sum,
        tree.map(_.shuffleBytes.get).sum / 1e6, tree.map(_.spillBytes.get).sum / 1e6,
        tree.map(_.inputBytes.get).sum / 1e6,
        tree.flatMap(_.counts.asScala.get("files_read")).sum,
        r.counts.asScala.toMap, cores)
    }
  }

  def clear(): Unit = { recs.clear(); stageSpan.clear(); execSpan.clear(); execFiles.clear() }
}

final case class SpanView(name: String, wallS: Double, busyS: Double, jobs: Long,
    stages: Long, shuffleMb: Double, spillMb: Double, inputMb: Double, filesRead: Double,
    counts: Map[String, Double], cores: Int) {
  def waitS: Double = wallS - busyS / cores
  def count(k: String): Double = counts.getOrElse(k, 0.0)
}

/** Per-layer metrics: each is the median over the span's instances in
  * the timed window (per call), except the `*_ratio` and `write_amp`
  * figures, which divide window totals.
  */
object LayerMetrics {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** `<span>.<metric>` → value, for the metrics each span declares. */
  def of(spans: Seq[SpanView], name: String, metrics: Seq[String]): Seq[(String, Double)] = {
    val xs = spans.filter(_.name == name)
    metrics.map { m =>
      val v: Double = m match {
        case "wall_s" => median(xs.map(_.wallS))
        case "busy_s" => median(xs.map(_.busyS))
        case "wait_s" => median(xs.map(_.waitS))
        case "jobs" => median(xs.map(_.jobs.toDouble))
        case "stages" => median(xs.map(_.stages.toDouble))
        case "shuffle_mb" => median(xs.map(_.shuffleMb))
        case "spill_mb" => median(xs.map(_.spillMb))
        case "input_mb" => median(xs.map(_.inputMb))
        case "files_read" => median(xs.map(_.filesRead))
        case "keep_ratio" | "accepted_ratio" => ratio(xs, "rows_out", "rows_in")
        case "write_amp" => ratio(xs, "write_bytes", "batch_bytes")
        case "write_mb" => median(xs.map(_.count("write_bytes") / 1e6))
        case other => median(xs.map(_.count(other)))
      }
      s"$name.$m" -> v
    }
  }

  private def ratio(xs: Seq[SpanView], num: String, den: String): Double = {
    val d = xs.map(_.count(den)).sum
    if (d == 0) 0.0 else xs.map(_.count(num)).sum / d
  }
}

/** The per-layer metric names, `<layer>.<module>.<call>.<metric>`: every
  * traced run prints all of them, 0 for a span its workload never opens.
  */
object PerLayer {
  val Compacting = "cdc.MergeTable.applyChanges.compacting"

  val Spans: Seq[(String, Seq[String])] = Seq(
    "cdc.Debezium.parse" -> Seq("wall_s", "busy_s", "rows_out"),
    "cdc.Dms.parse" -> Seq("wall_s", "busy_s", "rows_out"),
    "cdc.CdcModel.routes" -> Seq("wall_s", "wait_s", "jobs"),
    "cdc.CdcModel.inferPayloadSchema" -> Seq("wall_s", "busy_s", "jobs"),
    "cdc.CdcModel.decodePayload" -> Seq("wall_s", "busy_s"),
    "cdc.Precombine.latestByKey" -> Seq("busy_s", "shuffle_mb", "spill_mb", "keep_ratio"),
    "cdc.MergeTable.applyChanges" -> Seq("wall_s", "busy_s", "wait_s", "jobs", "stages",
      "shuffle_mb", "spill_mb", "commits", "files_added", "files_removed", "write_mb", "write_amp"),
    Compacting -> Seq("wall_s", "busy_s", "write_mb"),
    "sources.MergeTableSource.scan" -> Seq("wall_s", "busy_s", "input_mb", "files_read"),
    "sources.MergeTableSource.point" -> Seq("wall_s", "input_mb", "files_read"),
    "sources.MergeTableChangeFeed.read" -> Seq("wall_s", "busy_s", "rows_out"),
    "streaming.CdcPipeline.batch" -> Seq("wall_s", "busy_s", "wait_s", "jobs"),
    "streaming.DedupStream.processBatch" -> Seq("wall_s", "busy_s", "wait_s", "jobs", "shuffle_mb",
      "accepted_ratio")) ++
    Loops.Queries.map(q => s"query.$q" -> Seq("wall_s", "busy_s", "jobs", "plan_nodes"))

  /** Every span metric over the timed window's spans; an applyChanges
    * span whose commits include a compaction also counts as [[Compacting]].
    */
  def metrics(spans: Seq[SpanView]): Seq[(String, Double)] = {
    val all = spans ++ spans.filter(s => s.name == "cdc.MergeTable.applyChanges" && s.count("compacted") > 0)
      .map(_.copy(name = Compacting))
    Spans.flatMap { case (n, ms) => LayerMetrics.of(all, n, ms) }
  }
}
