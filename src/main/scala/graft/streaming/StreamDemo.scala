package graft.streaming

import org.apache.spark.sql.functions._

/** End-to-end streaming drive: replays parquet tables through
  * file-source streams (one file per micro-batch) into the streaming
  * operators, asserting the stream outputs equal their batch twins
  * (exits nonzero on mismatch):
  *   1. events → hourlyCounts (windowed agg, watermark-finalized);
  *   2. documents → temperatureGate (stateless admission, static
  *      allocation table) — admitted set must equal
  *      corpus_temperature_sample bit for bit;
  *   3. probe vectors → annStreamIvf (cell-keyed int8 retrieval,
  *      windowed bounded top-k + watermark, static cell index,
  *      a far-future flush probe closes the data window) — retrieved
  *      set must equal ann_ivf_int8 minus qdot bit for bit.
  * Each input is split into multiple files so the replay runs REAL
  * multi-micro-batch execution, not one degenerate batch. Usage:
  * runMain graft.streaming.StreamDemo [sfDir]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.tools.DriverSession.build(graft.tools.DriverSession.cpus)

    // File-source streams need a directory + fixed schema; events.ts is
    // nanos-as-long, so convert exactly as graft.io.Tables does.
    val batchEvents = graft.io.Tables(spark, sfDir).events
    val dir = java.nio.file.Files.createTempDirectory("stream-demo").toString
    batchEvents.write.mode("overwrite").parquet(s"$dir/in")

    val stream = spark.readStream
      .schema(batchEvents.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")

    val q = Streams.hourlyCounts(stream)
      .writeStream.format("memory").queryName("hourly_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val got = spark.table("hourly_stream")
    val rows = got.count()
    val batch = Streams.hourlyCounts(batchEvents).count()
    println(s"STREAM_DEMO windows_emitted=$rows batch_windows=$batch " +
      s"(stream emits only watermark-finalized windows; batch emits all)")
    got.orderBy(col("hour")).show(5, truncate = false)

    val t = graft.io.Tables(spark, sfDir)
    var failures = 0

    // 2. temperature-mix admission gate: documents replayed 4 files =
    // 4 micro-batches against the STATIC allocation table (pinned —
    // the stream-static side re-broadcasts per micro-batch, so an
    // unpinned plan would re-aggregate the corpus each batch).
    // Stateless gate → every batch emits immediately, no watermark.
    val docsBatch = t.documents.select("doc_id", "lang", "source", "text", "n_chars")
    docsBatch.repartition(4).write.mode("overwrite").parquet(s"$dir/docs")
    val alloc = graft.pipeline.CorpusOps.temperatureMix(t).localCheckpoint()
    val docStream = spark.readStream.schema(docsBatch.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/docs")
    val qGate = Streams.temperatureGate(docStream, alloc)
      .writeStream.format("memory").queryName("gate_stream")
      .outputMode("append").start()
    qGate.processAllAvailable()
    qGate.stop()
    val admitted = spark.table("gate_stream").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val batchDraw = graft.pipeline.CorpusOps.temperatureSample(t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val gateOk = admitted == batchDraw && admitted.nonEmpty
    if (!gateOk) failures += 1
    println(s"STREAM_DEMO temperature_gate admitted=${admitted.size} " +
      s"batch_draw=${batchDraw.size} match=$gateOk")

    // 3. cell-keyed int8 retrieval: probe vectors replayed one file
    // per micro-batch against the static quantized cell index
    // (localCheckpoint: callers own index residency — without it the
    // static side re-runs the KMeans transform every micro-batch).
    // The top-k agg is windowed + watermarked (append mode emits a
    // window only after the watermark passes it), so a far-future
    // FLUSH probe closes the data window; its own window stays open
    // and never emits, so it adds no rows.
    val (idx0, cents) = graft.sim.Similarity.quantizedCellIndex(t)
    val idx = idx0.localCheckpoint()
    val probesBatch = t.embeddings.filter(col("vec_id") % 13 === 0)
      .select(col("vec_id"), col("embedding"),
        timestamp_seconds(col("vec_id")).as("ts"))
    // all probe ts are within vec_id seconds of epoch (< the 1 h
    // horizon), so no replay order can drop a probe to the watermark
    probesBatch.repartition(4).write.mode("overwrite").parquet(s"$dir/probes")
    val flush = t.embeddings.filter(col("vec_id") === 13L)
      .select(col("vec_id"), col("embedding"),
        timestamp_seconds(col("vec_id") + lit(14400L)).as("ts"))
    val probeStream = spark.readStream.schema(probesBatch.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/probes")
    val qAnn = Streams.annStreamIvf(probeStream, idx, cents)
      .writeStream.format("memory").queryName("ann_stream")
      .outputMode("append").start()
    qAnn.processAllAvailable()
    flush.write.mode("append").parquet(s"$dir/probes")
    qAnn.processAllAvailable()
    qAnn.stop()
    val retrieved = spark.table("ann_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val batchAnn = graft.sim.Similarity.annIvfInt8(t).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("cand_id"),
        r.getAs[Int]("rnk").toLong, r.getAs[Double]("score"))).toSet
    val annOk = retrieved == batchAnn && retrieved.nonEmpty
    if (!annOk) failures += 1
    println(s"STREAM_DEMO ann_ivf_int8 retrieved=${retrieved.size} " +
      s"batch=${batchAnn.size} match=$annOk")

    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
