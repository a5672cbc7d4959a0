package graftbench

import graft.cdc.{CdcModel, Debezium, MergeTable, Precombine, TableConfig}
import graft.streaming.CdcPipeline
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Micro-batch walls per streaming query, from a StreamingQueryListener
  * (not `recentProgress`, which keeps only the last 100 batches).
  */
final class BatchClock extends StreamingQueryListener {
  private val walls = mutable.Map.empty[java.util.UUID, mutable.ArrayBuffer[Double]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val ms = Option(e.progress.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
    walls.getOrElseUpdate(e.progress.id, mutable.ArrayBuffer.empty) += ms / 1e3
  }
  def of(id: java.util.UUID): Seq[Double] = synchronized(walls.getOrElse(id, Nil).toSeq)
}

/** Wall of one `AvailableNow` drain and the walls of its micro-batches. */
final case class Drain(wallS: Double, batchWalls: Seq[Double])

object Drain {
  /** Start a query, wait until it has drained its source and return
    * the drain's wall (query start included) and its batch walls.
    */
  def of(ctx: Ctx, clock: BatchClock, what: String)(start: => StreamingQuery): Drain = {
    val t0 = System.nanoTime()
    val q = start
    q.awaitTermination()
    val wall = Main.seconds(t0)
    ctx.drain()
    val walls = clock.of(q.id)
    Main.log(f"drain $what: $wall%.2f s, batches ${walls.map(b => f"$b%.2f").mkString(",")}")
    Drain(wall, walls)
  }
}

/** cdc_stream_cow: Debezium drops through `CdcPipeline.start` into three
  * copy-on-write tables demuxed from one stream, drained with
  * `AvailableNow`, one micro-batch per drop.
  */
object CdcCow {
  val Db = "shop"
  val configs = Seq(
    TableConfig(Db, "orders", timestampFields = Seq("updated_at")),
    TableConfig(Db, "items"),
    TableConfig(Db, "users"))
  private val Ordering = Seq("ts_ms")

  /** Payload schemas of the generated rows, for the reference only. */
  val rowSchemas: Map[String, StructType] = Map(
    "orders" -> StructType.fromDDL("id LONG, customer LONG, amount DOUBLE, status STRING, updated_at STRING"),
    "items" -> StructType.fromDDL("id LONG, sku STRING, qty LONG, price DOUBLE, discount DOUBLE"),
    "users" -> StructType.fromDDL("id LONG, name STRING, score DOUBLE, region STRING"))

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val m = ctx.manifest
    val filesPerDrop = m.get("files_per_drop").asInt
    val drops = m.get("drops").elements().asScala.toSeq
    val timed = drops.filter(_.get("stage").asText == "timed")
    val timedEvents = timed.map(_.get("events").asLong).sum
    val clock = new BatchClock
    spark.streams.addListener(clock)

    def drain(root: String, stage: String, ckpt: String,
              replica: Option[(DataFrame, Long) => Unit]): Drain = {
      val src = spark.readStream.schema("value STRING")
        .option("maxFilesPerTrigger", filesPerDrop.toString)
        .text(ctx.dir(stage))
      Drain.of(ctx, clock, s"cow $stage into $root") {
        replica match {
          case None => pipeline(spark, root).start(src, ckpt)
          case Some(fn) => src.writeStream.outputMode("append").trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ckpt).foreachBatch(fn).start()
        }
      }
    }

    val notes = mutable.ArrayBuffer.empty[String]
    val root = ctx.dir("cow/untraced")
    val setupS = ctx.sessionStartS + drain(root, "setup", s"$root/ckpt-setup", None).wallS
    // a traced run sets up the replica's fresh tables before either
    // window, so both windows start on an equally warm JVM
    val troot = ctx.dir("cow/traced")
    if (ctx.trace) drain(troot, "setup", s"$troot/ckpt-setup", Some(replica(ctx, troot, (_, _) => 0L)))
    val run = drain(root, "timed", s"$root/ckpt-timed", None)
    val batchesOk = run.batchWalls.size == timed.size
    if (!batchesOk) notes += s"micro-batches ${run.batchWalls.size} != drops ${timed.size}"

    val ref = reference(spark, drops.map(d => ctx.dir(s"${d.get("stage").asText}/drop${"%04d".format(d.get("index").asInt)}-*.json")))
    val hashes = tableHashes(spark, root)
    val refOk = configs.forall(c => hashes(c.table) == ref(c.table))
    if (!refOk) notes += s"table hashes differ from the reference: $hashes vs $ref"
    val bytes = configs.map(c => Main.snapshotBytes(spark, s"$root/tables/$Db/${c.table}")).sum
    val rows = hashes.values.map(_._2).sum
    Main.log("cow reference checked")

    var correct = batchesOk && refOk
    val perLayer =
      if (!ctx.trace) Nil
      else {
        // traced replica: same drops, fresh tables, spans around each
        // public call in processBatch's order
        ctx.spans.clear()
        val firstTimed = timed.head.get("index").asInt
        val traced = drain(troot, "timed", s"$troot/ckpt-timed", Some(replica(ctx, troot, (id, tbl) =>
          drops(firstTimed + id.toInt).get("payload_bytes").path(tbl).asLong)))
        val thashes = tableHashes(spark, troot)
        if (thashes != hashes) {
          correct = false
          notes += s"traced replica hashes differ from CdcPipeline: $thashes vs $hashes"
        }
        if (traced.batchWalls.size != timed.size) {
          correct = false
          notes += s"traced micro-batches ${traced.batchWalls.size} != drops ${timed.size}"
        }
        notes += f"traced drain ${traced.wallS}%.3f s, untraced ${run.wallS}%.3f s"
        PerLayer.metrics(ctx.spans.closed()) :+ ("trace.overhead_s" -> (traced.wallS - run.wallS))
      }

    val attempted = math.max(1, timed.size).toLong
    val failed = if (correct) 0L else attempted
    val p50 = Main.median(run.batchWalls)
    Outcome(attempted, failed, correct,
      endToEnd = Seq(
        ("setup_s", setupS, "s"),
        ("batch_p50_s", p50, "s"),
        ("step_p50_s", p50, "s"),
        ("ingest_events_per_s", timedEvents / run.wallS, "events/s"),
        ("bytes_per_row", bytes.toDouble / math.max(1L, rows), "B/row")),
      perLayer = perLayer,
      extra = Seq(
        ("failed_op_share", failed.toDouble / attempted, "ratio"),
        ("timed_events", timedEvents.toDouble, "count"),
        ("timed_batches", run.batchWalls.size.toDouble, "count"),
        ("drain_s", run.wallS, "s")),
      notes = notes.toSeq)
  }

  private def pipeline(spark: SparkSession, root: String) = new CdcPipeline(
    spark, parse = df => Debezium.parse(df, "value"),
    tablesRoot = s"$root/tables", configs = configs, databaseName = Db)

  private def tableHashes(spark: SparkSession, root: String): Map[String, (String, Long)] =
    configs.map(c => c.table -> Main.tableHash(
      MergeTable.open(spark, s"$root/tables/$Db/${c.table}").read())).toMap

  /** `CdcPipeline.processBatch`, step for step, with a span around each
    * public call. Work the product does not do, all of it inside the
    * batch span and so in `trace.overhead_s`: the parse span counts the
    * cached parse (the product fills that cache inside its routes
    * collect), decodePayload and Precombine.latestByKey each get a
    * noop-sink pass so their cost has a span of its own, and
    * [[applyTraced]] lists the table before and after each apply.
    */
  private def replica(ctx: Ctx, root: String,
                      payloadBytes: (Long, String) => Long)(batch: DataFrame, batchId: Long): Unit = {
    val spark = ctx.spark
    val spans = ctx.spans
    spans.span("streaming.CdcPipeline.batch") { _ =>
      if (!batch.isEmpty) {
        val parsed = spans.span("cdc.Debezium.parse") { rec =>
          val p = Debezium.parse(batch, "value").filter(col("db") === Db).cache()
          rec.add("rows_out", p.count().toDouble)
          p
        }
        try {
          val routes = spans.span("cdc.CdcModel.routes")(_ => CdcModel.routes(parsed).collect())
          routes.foreach { r =>
            val tbl = r.getString(1)
            val conf = TableConfig.forTable(configs, Db, tbl)
            val changes = parsed.filter(col("tbl") === tbl)
            val schema = spans.span("cdc.CdcModel.inferPayloadSchema")(_ =>
              CdcModel.inferPayloadSchema(spark, changes, "payload"))
            val decoded = TableConfig.applyTimestampFields(
              CdcModel.decodePayload(changes, schema, keep = Seq("opclass", "ts_ms")), conf)
            spans.span("cdc.CdcModel.decodePayload")(_ =>
              decoded.write.format("noop").mode("overwrite").save())
            precombinePass(spans, decoded, conf.primaryKey)
            val table = MergeTable.forConfig(spark, s"$root/tables/$Db/$tbl", conf)
            applyTraced(spans, table, payloadBytes(batchId, tbl)) {
              table.applyChanges(decoded, ordering = Ordering, metaCols = Seq("ts_ms"))
            }
          }
        } finally parsed.unpersist()
      }
    }
  }

  /** applyChanges' own precombine input (inserts ∪ upserts, upserts
    * first), run once more to the noop sink with rows in/out observed.
    */
  def precombinePass(spans: Spans, decoded: DataFrame, keys: Seq[String]): Unit =
    spans.span("cdc.Precombine.latestByKey") { rec =>
      val ins = decoded.filter(col("opclass") === CdcModel.OpInsert).drop("opclass").withColumn("_pri", lit(0))
      val ups = decoded.filter(col("opclass") === CdcModel.OpUpsert).drop("opclass").withColumn("_pri", lit(1))
      val in = new Observation("precombine_in")
      val out = new Observation("precombine_out")
      val both = ins.unionByName(ups, allowMissingColumns = true).observe(in, count(lit(1)).as("n"))
      Precombine.latestByKey(both, keys, "_pri" +: Ordering).observe(out, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      rec.add("rows_in", in.get("n").asInstanceOf[Long].toDouble)
      rec.add("rows_out", out.get("n").asInstanceOf[Long].toDouble)
    }

  /** Span `cdc.MergeTable.applyChanges` around `body`, with the commits,
    * files and bytes it left in the table directory attached; a span
    * whose commits include a compaction also counts as
    * `cdc.MergeTable.applyChanges.compacting`.
    */
  def applyTraced(spans: Spans, table: MergeTable, batchBytes: Long)(body: => Unit): Unit = {
    val before = Main.listFiles(table.root)
    val snapBefore = if (table.exists) table.read().inputFiles.toSet else Set.empty[String]
    val vBefore = table.versions().lastOption.getOrElse(0L)
    var rec: SpanRec = null
    spans.span("cdc.MergeTable.applyChanges") { r => rec = r; body }
    val after = Main.listFiles(table.root)
    val added = after.keySet -- before.keySet
    val snapAfter = table.read().inputFiles.toSet
    val newOps = table.history().filter(_._1 > vBefore)
    rec.add("commits", newOps.size.toDouble)
    rec.add("files_added", added.count(f => f.contains("/data/") && f.endsWith(".parquet")).toDouble)
    rec.add("files_removed", (snapBefore -- snapAfter).size.toDouble)
    rec.add("write_bytes", added.toSeq.map(after).sum.toDouble)
    rec.add("batch_bytes", batchBytes.toDouble)
    if (newOps.exists(_._5.contains("compact"))) rec.add("compacted", 1.0)
  }

  /** The expected final tables, computed from the generated files in
    * plain Spark SQL without graft.cdc: graft's documented per-batch
    * fold (inserts ∪ upserts, upserts first then latest `ts_ms`, then
    * the batch's deletes) in closed form. An upsert replaces the whole
    * row, so a key ends as its LAST batch left it: deleted if that batch
    * deletes it, else that batch's row_number() = 1 image by
    * (upsert first, `ts_ms` descending).
    */
  def reference(spark: SparkSession, dropGlobs: Seq[String]): Map[String, (String, Long)] = {
    val env = StructType.fromDDL("before STRING, after STRING, source STRING, op STRING, ts_ms LONG")
    spark.read.text(dropGlobs: _*)
      .select(from_json(col("value"), env).as("e"),
        regexp_extract(input_file_name(), "drop(\\d+)-", 1).cast("int").as("batch"))
      .select(col("e.op").as("op"), col("e.ts_ms").as("ts_ms"), col("batch"),
        from_json(col("e.source"), StructType.fromDDL("db STRING, table STRING")).as("src"),
        when(col("e.op") === "d", col("e.before")).otherwise(col("e.after")).as("payload"))
      .filter(col("src.db") === Db)
      .select(col("src.table").as("tbl"), get_json_object(col("payload"), "$.id").as("id"),
        col("batch"), col("op"), col("ts_ms"), col("payload"))
      .createOrReplaceTempView("ref_ev")
    val winners = spark.sql(
      """SELECT tbl, payload FROM (
        |  SELECT *, row_number() OVER (PARTITION BY tbl, id ORDER BY batch DESC,
        |    CASE op WHEN 'd' THEN 2 WHEN 'u' THEN 1 ELSE 0 END DESC, ts_ms DESC) AS rn
        |  FROM ref_ev)
        |WHERE rn = 1 AND op <> 'd'""".stripMargin).cache()
    try configs.map { c =>
      val rows = winners.filter(col("tbl") === c.table)
        .select(from_json(col("payload"), rowSchemas(c.table)).as("r")).select(col("r.*"))
      c.table -> Main.tableHash(c.timestampFields.foldLeft(rows)((df, f) => df.withColumn(f, to_timestamp(col(f)))))
    }.toMap
    finally winners.unpersist()
  }
}
