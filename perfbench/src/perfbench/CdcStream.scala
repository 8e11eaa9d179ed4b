package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.json4s._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryProgress, Trigger}

import graft.graph.GraphFrame
import graft.streaming.Streams

/** The CDC maintenance loops (`Streams.streamingWccMaintainCdc`, then
  * `Streams.streamingTriangleMaintainCdc`) over one seeded change log: a
  * base load, add batches, then remove batches, staged one parquet file
  * per micro-batch and read with `maxFilesPerTrigger = 1` under
  * `Trigger.AvailableNow`. The graph stays far below the 1 M-edge cutover,
  * so the composes take their driver hybrid paths and each batch costs
  * mostly driver planning, codegen and job scheduling, plus the table
  * rewrites every batch does with `saveAsTable`.
  */
object CdcStream extends Workload {
  val name = "cdc_stream"

  val Shape = Gen.LogShape(nV = 1024, base = 4000, addBatches = 2, addSize = 300,
    removeBatches = 2, removeModulus = 30)

  /** A maintenance loop over three tables; `check` reads the first. */
  private case class Loop(name: String, tables: (String, String, String),
      init: (SparkSession, String, String, String) => Unit,
      writer: (DataFrame, String, String, String) => DataStreamWriter[Row],
      check: (SparkSession, String, Set[(Long, Long)]) => Seq[String])

  private val loops = Seq(
    Loop("wcc_cdc", ("pb_wcc_labels", "pb_wcc_edges", "pb_wcc_tombs"),
      Streams.initWccCdcTables, Streams.streamingWccMaintainCdc(_, _, _, _), checkWcc),
    Loop("tri_cdc", ("pb_tri_counts", "pb_tri_adj", "pb_tri_tombs"),
      Streams.initTriangleCdcTables, Streams.streamingTriangleMaintainCdc(_, _, _, _),
      checkTriangles))

  /** Per micro-batch figures a run keeps. */
  private case class Batch(loop: String, p: StreamingQueryProgress, span: Span) {
    def key: String = span.op
    def startMs: Long = span.startMs
    def endMs: Long = span.endMs
    def seconds: Double = p.batchDuration / 1e3
    def phase(k: String): Double = Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
  }

  def run(ctx: Ctx, sessionS: Double): Outcome = {
    val spark = ctx.spark
    val in = new java.io.File(ctx.work, "changes")
    val (_, setupMedian) = Workload.repeatSetup(3) {
      Gen.stageBatches(Gen.changeLog(spark, ctx.seed, Shape), in, Shape.batches)
    }(_ => ())
    val log = spark.read.parquet(in.getAbsolutePath)
    val schema = log.schema
    val rows = log.collect()
    val changes = rows.length.toLong
    def canon(r: Row) = {
      val (a, b) = (r.getAs[Long]("src"), r.getAs[Long]("dst"))
      (math.min(a, b), math.max(a, b))
    }
    val (adds, removes) = rows.partition(_.getAs[String]("op") == "add")
    val net = adds.map(canon).toSet -- removes.map(canon).toSet

    val tr = ctx.tracer
    val root = tr.open("workload", name, name, -1)
    val batches = mutable.ArrayBuffer.empty[Batch]
    val cycles = Workload.rounds(ctx.seconds) { cycle =>
      loops.map { l =>
        val (t1, t2, t3) = l.tables
        l.init(spark, t1, t2, t3)
        val before = Storage.snapshot(spark)
        val key = s"${l.name}#$cycle"
        val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(in.getAbsolutePath)
        val ckpt = new java.io.File(ctx.work, s"ckpt-$key")
        Files.deleteTree(ckpt)
        val t = tr.op("loop", key, root) {
          try {
            val q = l.writer(stream, t1, t2, t3).option("checkpointLocation", ckpt.getAbsolutePath)
              .trigger(Trigger.AvailableNow()).start()
            q.awaitTermination()
            Right(q.recentProgress.toSeq)
          } catch { case e: Exception => Left(e) }
        }
        val fails = t.value match {
          case Left(e) => Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          case Right(progress) =>
            progress.foreach { p =>
              val start = java.time.Instant.parse(p.timestamp).toEpochMilli
              batches += Batch(l.name, p, tr.add("batch", s"${l.name} batch ${p.batchId}",
                Tracer.batchKey(key, p.batchId), t.span.id, start, start + p.batchDuration))
            }
            (if (progress.size == Shape.batches) Nil
             else Seq(s"${progress.size} micro-batches, expected ${Shape.batches}")) ++
              { Seq(t1, t2, t3).foreach(spark.catalog.refreshTable); l.check(spark, t1, net) }
        }
        Files.deleteTree(ckpt)
        OpRec(l.name, key, t.wallS, fails.isEmpty, fails.take(3).mkString("; "),
          Storage.snapshot(spark).above(before), changes.toDouble, t.span) -> before
      }
    }
    tr.close(root)
    Files.deleteTree(in)

    val ops = cycles.flatten.map(_._1)
    val lat = batches.map(_.seconds).toSeq
    val report = ListMap(
      "batch_p50_s" -> Metric(Stats.median(lat), "s"),
      "batch_tail_s" -> Metric(Stats.tail(lat).value, "s"),
      "changes_per_s" -> Metric(ops.map(_.workUnits).sum / lat.sum, "1/s"),
      "changes" -> Metric(changes, "count"))
    val (layer, perBatch) =
      if (!tr.traced) (ListMap.empty[String, Metric], JNothing)
      else traceFigures(tr, batches.toSeq, cycles.flatten.map { case (o, st) => o.key -> st }.toMap)
    Outcome(sessionS + setupMedian, Stats.median(cycles.map(_.map(_._1.wallS).sum)), ops,
      lat, batches.map(_.span).toSeq,
      ops.map(_.workUnits).sum / cycles.size, report, layer, perBatch)
  }

  /** The streaming layer's figures and one trace record per micro-batch.
    * `baseline` is the storage before each loop started.
    */
  private def traceFigures(tr: Tracer, batches: Seq[Batch],
      baseline: Map[String, Storage]): (ListMap[String, Metric], JValue) = {
    val counters = batches.map(b => tr.byKey.getOrElse(b.key, new Counters))
    val compiles = batches.map(b => tr.compilesIn(b.startMs, b.endMs).toDouble)
    val storage = batches.map(b => tr.batchStorage.get(b.key).map { case (st, written) =>
      (st.above(baseline(b.key.takeWhile(_ != '/'))).blocks, written) }.getOrElse((0L, 0L)))
    val slopes = loops.map(l => Stats.slope(batches.zip(counters)
      .collect { case (b, c) if b.loop == l.name => c.tasks.toDouble }))
    def p50(xs: Seq[Double]) = Stats.median(xs)
    val layer = ListMap(
      "streaming.batches" -> Metric(batches.size, "count"),
      "streaming.add_batch_ms_p50" -> Metric(p50(batches.map(_.phase("addBatch"))), "ms"),
      "streaming.query_planning_ms_p50" -> Metric(p50(batches.map(_.phase("queryPlanning"))), "ms"),
      "streaming.get_batch_ms_p50" -> Metric(p50(batches.map(_.phase("getBatch"))), "ms"),
      "streaming.wal_commit_ms_p50" -> Metric(p50(batches.map(_.phase("walCommit"))), "ms"),
      "streaming.compiles_per_batch" -> Metric(p50(compiles), "count"),
      "streaming.jobs_per_batch" -> Metric(p50(counters.map(_.jobs.toDouble)), "count"),
      "streaming.tasks_per_batch" -> Metric(p50(counters.map(_.tasks.toDouble)), "count"),
      "streaming.tasks_per_batch_slope" -> Metric(slopes.sum / slopes.size, "count"),
      "streaming.retained_blocks_max" -> Metric((0L +: storage.map(_._1)).max, "count"))
    val records = JArray(batches.indices.toList.map { i =>
      val (b, c, (retained, written)) = (batches(i), counters(i), storage(i))
      Js.obj("key" -> JString(b.key), "seconds" -> Js.num(b.seconds),
        "rows" -> JInt(b.p.numInputRows), "jobs" -> JInt(c.jobs), "tasks" -> JInt(c.tasks),
        "compiles" -> JInt(compiles(i).toLong), "blocks_written" -> JInt(written),
        "retained_blocks" -> JInt(retained))
    })
    (layer, records)
  }

  /** Vertex → label, read back from a maintained table. */
  private def collectMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def netGraph(spark: SparkSession, ids: Iterable[Long],
      net: Set[(Long, Long)]): GraphFrame = {
    import spark.implicits._
    GraphFrame(ids.toSeq.toDF(GraphFrame.ID), net.toSeq.toDF(GraphFrame.SRC, GraphFrame.DST))
  }

  /** Maintained labels partition the vertices exactly as a full
    * `connectedComponents` over the net edge set does.
    */
  def checkWcc(spark: SparkSession, labels: String, net: Set[(Long, Long)]): Seq[String] = {
    val got = collectMap(spark.table(labels).select("id", "component"))
    val ref = collectMap(netGraph(spark, got.keys, net).connectedComponents.run().components)
    if (got.keySet != ref.keySet)
      Seq(s"wcc_cdc: labels cover ${got.size} vertices, recompute ${ref.size}")
    else {
      val pairs = got.map { case (v, l) => (l, ref(v)) }.toSet
      val (a, b) = (got.values.toSet.size, ref.values.toSet.size)
      if (pairs.size == a && a == b) Nil
      else Seq(s"wcc_cdc: $a maintained components, recompute has $b (${pairs.size} pairs)")
    }
  }

  /** Maintained counts equal a full `triangleCount` over the net edges. */
  def checkTriangles(spark: SparkSession, counts: String,
      net: Set[(Long, Long)]): Seq[String] = {
    val got = collectMap(spark.table(counts).select("id", "triangles"))
    val ids = got.keySet ++ net.flatMap { case (a, b) => Seq(a, b) }
    val ref = collectMap(netGraph(spark, ids, net).triangleCount.run().select("id", "triangles"))
    val bad = ids.count(v => got.getOrElse(v, 0L) != ref.getOrElse(v, 0L))
    if (bad == 0) Nil else Seq(s"tri_cdc: $bad of ${ids.size} vertices differ from recompute")
  }
}
