package graftbench

import graft.cdc.MergeTable
import graft.streaming.DedupStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** dedup_stream: parquet doc drops through `DedupStream.start`, drained
  * with `AvailableNow`, one micro-batch per drop. Each drop repeats 1/6
  * of its texts within the drop and 1/6 from earlier drops, so every
  * batch collapses in-batch duplicates, anti-joins the growing
  * fingerprint index and appends to both MergeTables under `txnAtomic`.
  * A traced run also makes one pass over the [[Loops]] queries.
  */
object DedupIngest {
  private val Schema = "doc_id LONG, text STRING"

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val m = ctx.manifest
    val filesPerDrop = m.get("files_per_drop").asInt
    val drops = m.get("drops").elements().asScala.toSeq
    val timed = drops.filter(_.get("stage").asText == "timed")
    val timedDocs = timed.map(_.get("events").asLong).sum
    val clock = new BatchClock
    spark.streams.addListener(clock)

    // each drain is its own stream: its own checkpoint and appId, as
    // txnAtomic keys its exactly-once watermark on (appId, batchId)
    def drain(root: String, stage: String, traced: Boolean): Drain = {
      val src = spark.readStream.schema(Schema)
        .option("maxFilesPerTrigger", filesPerDrop.toString)
        .parquet(ctx.dir(stage))
      val ds = new DedupStream(spark, root, appId = s"graftbench-$stage")
      Drain.of(ctx, clock, s"dedup $stage into $root") {
        if (!traced) ds.start(src, s"$root/ckpt-$stage")
        else {
          val docs = drops.filter(_.get("stage").asText == stage).map(_.get("events").asDouble)
          src.writeStream.outputMode("append").trigger(Trigger.AvailableNow())
            .option("checkpointLocation", s"$root/ckpt-$stage")
            .foreachBatch((b: DataFrame, id: Long) => processTraced(ctx, ds, b, id, docs(id.toInt)))
            .start()
        }
      }
    }

    val notes = mutable.ArrayBuffer.empty[String]
    val root = ctx.dir("dedup/untraced")
    val setupS = ctx.sessionStartS + drain(root, "setup", traced = false).wallS
    // a traced run seeds its fresh tables before either window, so
    // both windows start on an equally warm JVM
    val troot = ctx.dir("dedup/traced")
    if (ctx.trace) drain(troot, "setup", traced = true)
    val run = drain(root, "timed", traced = false)
    val batchesOk = run.batchWalls.size == timed.size
    if (!batchesOk) notes += s"micro-batches ${run.batchWalls.size} != drops ${timed.size}"

    val want = expected(drops)
    val got = checksum(spark, root)
    val refOk = got == want
    if (!refOk) notes += s"accepted/index checksums $got, expected $want"
    val bytes = Seq("accepted", "fp_index").map(t => Main.snapshotBytes(spark, s"$root/$t")).sum
    Main.log("dedup reference checked")

    var correct = batchesOk && refOk
    val perLayer =
      if (!ctx.trace) Nil
      else {
        ctx.spans.clear()
        val traced = drain(troot, "timed", traced = true)
        val tgot = checksum(spark, troot)
        if (tgot != got) {
          correct = false
          notes += s"traced checksums differ from DedupStream.start: $tgot vs $got"
        }
        if (traced.batchWalls.size != timed.size) {
          correct = false
          notes += s"traced micro-batches ${traced.batchWalls.size} != drops ${timed.size}"
        }
        notes += f"traced drain ${traced.wallS}%.3f s, untraced ${run.wallS}%.3f s"
        notes += f"loops pass ${Loops.run(ctx)}%.3f s"
        ctx.drain()
        PerLayer.metrics(ctx.spans.closed()) :+ ("trace.overhead_s" -> (traced.wallS - run.wallS))
      }

    // a traced run also runs every loop query once
    val attempted = math.max(1, timed.size).toLong + (if (ctx.trace) Loops.Queries.size else 0)
    val failed = if (correct) 0L else attempted
    val p50 = Main.median(run.batchWalls)
    Outcome(attempted, failed, correct,
      endToEnd = Seq(
        ("setup_s", setupS, "s"),
        ("batch_p50_s", p50, "s"),
        ("step_p50_s", p50, "s"),
        ("ingest_events_per_s", timedDocs / run.wallS, "events/s"),
        ("bytes_per_row", bytes.toDouble / math.max(1L, want.accepted), "B/row")),
      perLayer = perLayer,
      extra = Seq(
        ("failed_op_share", failed.toDouble / attempted, "ratio"),
        ("timed_docs", timedDocs.toDouble, "count"),
        ("timed_batches", run.batchWalls.size.toDouble, "count"),
        ("drain_s", run.wallS, "s")),
      notes = notes.toSeq)
  }

  /** `DedupStream.processBatch` in a span; the accepted table's growth
    * is read after the span closes.
    */
  private def processTraced(ctx: Ctx, ds: DedupStream, batch: DataFrame, batchId: Long, docs: Double): Unit = {
    def acceptedRows() = new MergeTable(ctx.spark, ds.acceptedRoot, Seq("doc_id")).statsRowCount.getOrElse(0L)
    val before = acceptedRows()
    var rec: SpanRec = null
    ctx.spans.span("streaming.DedupStream.processBatch") { r => rec = r; ds.processBatch(batch, batchId) }
    rec.add("rows_in", docs)
    rec.add("rows_out", (acceptedRows() - before).toDouble)
  }

  /** Size, id sum, id square sum and md5 sum of the accepted docs, and
    * the fingerprint index's row and distinct-fingerprint counts.
    */
  final case class Sums(accepted: Long, idSum: BigInt, idSqSum: BigInt, md5Sum: BigInt,
                        indexRows: Long, indexFps: Long)

  /** What the generator says every drop accepts; the index holds one
    * row per accepted doc.
    */
  private def expected(drops: Seq[com.fasterxml.jackson.databind.JsonNode]): Sums = {
    def total(k: String) = drops.map(d => BigInt(d.get(k).asText)).sum
    val n = drops.map(_.get("accepted").asLong).sum
    Sums(n, total("accepted_id_sum"), total("accepted_id_sq_sum"), total("accepted_md5_sum"), n, n)
  }

  private def checksum(spark: SparkSession, root: String): Sums = {
    val a = MergeTable.open(spark, s"$root/accepted").read()
      .agg(count(lit(1)), sum(col("doc_id").cast("decimal(38,0)")),
        sum(col("doc_id").cast("decimal(38,0)") * col("doc_id").cast("decimal(38,0)")),
        sum(conv(substring(md5(col("text")), 1, 12), 16, 10).cast("decimal(38,0)")))
      .head()
    val i = MergeTable.open(spark, s"$root/fp_index").read()
      .agg(count(lit(1)), countDistinct(col("fp"))).head()
    def big(k: Int) = BigInt(Option(a.getDecimal(k)).getOrElse(java.math.BigDecimal.ZERO).toBigInteger)
    Sums(a.getLong(0), big(1), big(2), big(3), i.getLong(0), i.getLong(1))
  }
}
