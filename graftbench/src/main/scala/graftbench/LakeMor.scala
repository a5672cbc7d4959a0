package graftbench

import com.fasterxml.jackson.databind.JsonNode
import graft.cdc.{CdcModel, Dms, MergeTable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** lake_mor_mixed: DMS drops through `Dms.parse` → `inferPayloadSchema` /
  * `decodePayload` → `MergeTable.applyChanges` on one merge-on-read table
  * in the composed layout (`day` partitions × 8 buckets), driven by the
  * client outside any stream. After every write the client runs a fixed
  * read mix through `spark.read.format("mergetable")`: a full-scan
  * aggregate by day, the drop's point lookup (hot and cold keys in
  * turn) and the change feed since the version before the write. The
  * table keeps MergeTable's default auto-compaction (8 delta commits,
  * 2 per applyChanges), so the third timed write compacts.
  */
object LakeMor {
  private val Keys = Seq("id")
  private val Ordering = Seq("ts_ms")
  private val RowSchema = StructType.fromDDL("id LONG, day STRING, user_id LONG, amount DOUBLE, kind STRING")
  private val RowCols = RowSchema.fieldNames.sorted

  /** What one write step's reads returned, kept for the reference check. */
  private final case class Step(drop: Int, writeS: Double, stepS: Double, scanS: Double,
      pointS: Seq[Double], feedS: Double, scan: Set[String], points: Seq[(Long, Option[String])],
      feed: Seq[(Long, String)], compacted: Boolean)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val drops = ctx.manifest.get("drops").elements().asScala.toSeq
    val setupDrops = drops.filter(_.get("stage").asText == "setup")
    val timed = drops.filter(_.get("stage").asText == "timed")
    val timedEvents = timed.map(_.get("events").asLong).sum
    def files(d: JsonNode) =
      ctx.dir(s"${d.get("stage").asText}/drop${"%04d".format(d.get("index").asInt)}-*.json")
    def points(d: JsonNode) =
      d.get("points").elements().asScala.map(_.asLong).toSeq
    def table(root: String) = new MergeTable(spark, root, Keys, MergeTable.MergeOnRead,
      numBuckets = Some(8), partitionCols = Seq("day"))

    def loop(t: MergeTable, ds: Seq[JsonNode], traced: Boolean): Seq[Step] =
      ds.map(d => step(ctx, t, d.get("index").asInt, files(d), points(d), d.get("payload_bytes").asLong, traced))

    // set-up: base load, then the warm-up steps (write + read mix)
    val notes = mutable.ArrayBuffer.empty[String]
    def setUp(t: MergeTable): Unit = {
      write(ctx, t, files(setupDrops.head), 0L, traced = false)
      loop(t, setupDrops.tail, traced = false)
    }
    val root = ctx.dir("mor/untraced")
    val mt = table(root)
    val t0 = System.nanoTime()
    setUp(mt)
    val setupS = ctx.sessionStartS + Main.seconds(t0)
    // a traced run sets up its second table before either window, so
    // both windows start on an equally warm JVM
    val tt = table(ctx.dir("mor/traced"))
    if (ctx.trace) setUp(tt)
    val steps = loop(mt, timed, traced = false)

    val problems = verify(spark, drops.map(files), steps)
    Main.log("mor reference checked")
    notes ++= problems
    val (hash, rows) = Main.tableHash(spark.read.format("mergetable").load(root))
    val bytes = Main.snapshotBytes(spark, root)
    val compactions = mt.history().count(_._5.contains("compact"))
    Main.log("mor hash and bytes")
    var correct = problems.isEmpty

    val perLayer =
      if (!ctx.trace) Nil
      else {
        ctx.spans.clear()
        val tsteps = loop(tt, timed, traced = true)
        val (thash, _) = Main.tableHash(spark.read.format("mergetable").load(tt.root))
        if (thash != hash) {
          correct = false
          notes += s"traced table hash differs from the untraced run: $thash vs $hash"
        }
        ctx.drain()
        PerLayer.metrics(ctx.spans.closed()) :+
          ("trace.overhead_s" -> (tsteps.map(_.stepS).sum - steps.map(_.stepS).sum))
      }

    val attempted = steps.map(s => 3L + s.points.size).sum
    val failed = if (correct) 0L else attempted
    val pts = steps.flatMap(_.pointS)
    val writeS = steps.map(_.writeS).sum
    Outcome(math.max(1L, attempted), failed, correct,
      endToEnd = Seq(
        ("setup_s", setupS, "s"),
        ("batch_p50_s", Main.median(steps.map(_.writeS)), "s"),
        ("step_p50_s", Main.median(steps.map(_.stepS)), "s"),
        ("ingest_events_per_s", timedEvents / writeS, "events/s"),
        ("bytes_per_row", bytes.toDouble / math.max(1L, rows), "B/row")),
      perLayer = perLayer,
      extra = Seq(
        ("read_scan_p50_s", Main.median(steps.map(_.scanS)), "s"),
        ("read_point_p50_s", Main.median(pts), "s"),
        ("read_point_p90_s", Main.quantile(pts, 0.9), "s"),
        ("read_point_samples", pts.size.toDouble, "count"),
        ("read_feed_p50_s", Main.median(steps.map(_.feedS)), "s"),
        ("failed_op_share", failed.toDouble / math.max(1L, attempted), "ratio"),
        ("timed_events", timedEvents.toDouble, "count"),
        ("write_batches", steps.size.toDouble, "count"),
        ("compactions", compactions.toDouble, "count"),
        ("compactions_in_window", steps.count(_.compacted).toDouble, "count")),
      notes = notes.toSeq)
  }

  /** One write batch, in the shape CdcPipeline gives each table's
    * changes: parse and cache the drop, infer the payload schema,
    * decode, apply.
    */
  private def write(ctx: Ctx, t: MergeTable, glob: String, payloadBytes: Long, traced: Boolean): Unit = {
    val spark = ctx.spark
    val spans = ctx.spans
    val raw = spark.read.text(glob)
    val parsed = ctx.span(traced, "cdc.Dms.parse") { rec =>
      val p = Dms.parse(raw, "value").cache()
      if (traced) rec.add("rows_out", p.count().toDouble)
      p
    }
    try {
      val schema = ctx.span(traced, "cdc.CdcModel.inferPayloadSchema")(_ =>
        CdcModel.inferPayloadSchema(spark, parsed, "payload"))
      val decoded = CdcModel.decodePayload(parsed, schema, keep = Seq("opclass", "ts_ms"))
      if (traced) {
        spans.span("cdc.CdcModel.decodePayload")(_ => decoded.write.format("noop").mode("overwrite").save())
        CdcCow.precombinePass(spans, decoded, Keys)
        CdcCow.applyTraced(spans, t, payloadBytes) {
          t.applyChanges(decoded, ordering = Ordering, metaCols = Seq("ts_ms"))
        }
      } else t.applyChanges(decoded, ordering = Ordering, metaCols = Seq("ts_ms"))
    } finally parsed.unpersist()
  }

  private def step(ctx: Ctx, t: MergeTable, drop: Int, glob: String, keys: Seq[Long],
                   payloadBytes: Long, traced: Boolean): Step = {
    val spark = ctx.spark
    val vPrev = t.versions().lastOption.getOrElse(0L)
    val t0 = System.nanoTime()
    write(ctx, t, glob, payloadBytes, traced)
    val writeS = Main.seconds(t0)
    def src = spark.read.format("mergetable").load(t.root)

    val s0 = System.nanoTime()
    val scan = ctx.span(traced, "sources.MergeTableSource.scan")(_ =>
      src.groupBy("day").agg(count(lit(1)).as("n"),
        sum(round(col("amount") * 100).cast("long")).as("cents")).collect()
    ).map(_.mkString("|")).toSet
    val scanS = Main.seconds(s0)

    val pointS = mutable.ArrayBuffer.empty[Double]
    val pts = keys.map { k =>
      val p0 = System.nanoTime()
      val r = ctx.span(traced, "sources.MergeTableSource.point")(_ =>
        src.filter(col("id") === k).select(RowCols.map(col): _*).collect())
      pointS += Main.seconds(p0)
      k -> r.headOption.map(_.mkString("|"))
    }

    val f0 = System.nanoTime()
    val feed = ctx.span(traced, "sources.MergeTableChangeFeed.read") { rec =>
      val rows = spark.read.format("mergetable").option("readChangeFeed", "true")
        .option("startingVersion", vPrev.toString).load(t.root).collect()
      rec.add("rows_out", rows.length.toDouble)
      rows
    }.map(r => r.getAs[Long]("id") -> r.getAs[String]("_change")).toSeq
    val feedS = Main.seconds(f0)
    val stepS = Main.seconds(t0)
    // bookkeeping the client step does not do, after its wall is taken
    val compacted = t.history().exists(h => h._1 > vPrev && h._5.contains("compact"))
    Main.log(f"mor drop $drop write $writeS%.2f scan $scanS%.2f points ${pointS.sum}%.2f feed $feedS%.2f")
    Step(drop, writeS, stepS, scanS, pointS.toSeq, feedS, scan, pts, feed, compacted)
  }

  /** Check every timed read against the reference fold. Spark SQL
    * (no graft.cdc) reduces each (key, batch) to its outcome with the
    * documented in-batch order — inserts ∪ upserts, upserts first then
    * latest `ts_ms`, then the batch's deletes; the driver folds those
    * outcomes batch by batch and checks each step's scan aggregate,
    * point lookups and change feed against the state it reached.
    */
  private def verify(spark: SparkSession, globs: Seq[String], steps: Seq[Step]): Seq[String] = {
    val meta = StructType.fromDDL("timestamp STRING, operation STRING")
    val ev = spark.read.text(globs: _*)
      .select(from_json(col("value"), StructType.fromDDL("data STRING, metadata STRING")).as("e"),
        regexp_extract(input_file_name(), "drop(\\d+)-", 1).cast("int").as("batch"))
      .select(col("batch"), from_json(col("e.metadata"), meta).as("m"),
        from_json(col("e.data"), RowSchema).as("r"))
      .select(col("batch"), col("m.operation").as("op"),
        unix_millis(to_timestamp(col("m.timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")).as("ts_ms"),
        col("r.*"))
    ev.createOrReplaceTempView("mor_ev")
    val outcomes = spark.sql(
      s"""WITH ev AS (SELECT *, CASE WHEN op = 'update' THEN 1 ELSE 0 END AS pri FROM mor_ev),
         |del AS (SELECT DISTINCT id, batch FROM ev WHERE op = 'delete'),
         |win AS (SELECT *, row_number() OVER (PARTITION BY id, batch ORDER BY pri DESC, ts_ms DESC) AS rn
         |        FROM ev WHERE op <> 'delete'),
         |keep AS (SELECT * FROM win WHERE rn = 1)
         |SELECT coalesce(k.batch, d.batch) AS batch, coalesce(k.id, d.id) AS id,
         |       d.id IS NOT NULL AS deleted, k.day, CAST(round(k.amount * 100) AS BIGINT) AS cents,
         |       concat_ws('|', ${RowCols.map(c => s"CAST(k.$c AS STRING)").mkString(", ")}) AS row
         |FROM keep k FULL OUTER JOIN del d ON k.id = d.id AND k.batch = d.batch""".stripMargin)
      .collect().groupBy(_.getInt(0))

    val state = mutable.HashMap.empty[Long, (String, Long, String)]
    val byDrop = steps.map(s => s.drop -> s).toMap
    val problems = mutable.ArrayBuffer.empty[String]
    outcomes.keys.toSeq.sorted.foreach { b =>
      val rows = outcomes(b)
      val before = rows.map(r => r.getLong(1) -> state.get(r.getLong(1))).toMap
      rows.foreach { r =>
        if (r.getBoolean(2)) state.remove(r.getLong(1))
        else state(r.getLong(1)) = (r.getString(3), r.getLong(4), r.getString(5))
      }
      byDrop.get(b).foreach { s =>
        val scan = state.values.groupBy(_._1).map { case (day, vs) =>
          s"$day|${vs.size}|${vs.map(_._2).sum}" }.toSet
        if (scan != s.scan) problems += s"drop $b: scan aggregate differs from the reference"
        s.points.foreach { case (k, got) =>
          if (got != state.get(k).map(_._3)) problems += s"drop $b: point $k = $got, expected ${state.get(k).map(_._3)}"
        }
        val feed = s.feed.toMap
        before.foreach { case (k, was) =>
          val now = state.get(k)
          val want = (was, now) match {
            case (None, Some(_)) => Some("I")
            case (Some(_), None) => Some("D")
            case (Some(a), Some(c)) if a != c => Some("U")
            case _ => None
          }
          if (want.isDefined && feed.get(k) != want)
            problems += s"drop $b: feed has ${feed.get(k)} for key $k, expected $want"
        }
        val stray = feed.keySet -- before.keySet
        if (stray.nonEmpty) problems += s"drop $b: feed names ${stray.size} keys the drop never touched"
      }
    }
    problems.take(5).toSeq
  }
}
