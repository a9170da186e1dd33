package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.sinks.Writers
import graft.sources.Catalog

class StreamingSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("stateless curation operators run unchanged on a stream (quality + PII scrub)") {
    // the curation layer is pure projections, so the SAME code serves
    // batch backfill and continuous ingest — no streaming variants
    val dir = tmpDir("graft_stream_curate")
    val batch = Catalog.load(spark, sf, "documents")
      .select(col("doc_id"), concat(col("text"), lit(" mail x@y.io")).as("text"))
    batch.repartition(2).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val out = operators.TextAnalysis.quality(
        stream.withColumn("text", operators.Curation.scrubPii(col("text"))), "doc_id", "text")
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("curate_stream_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("curate_stream_out").orderBy("doc_id").collect()
      val expected = operators.TextAnalysis.quality(
          batch.withColumn("text", operators.Curation.scrubPii(col("text"))), "doc_id", "text")
        .orderBy("doc_id").collect()
      assert(streamed.toSeq == expected.toSeq && streamed.nonEmpty)
    } finally q.stop()
  }

  test("chunkOverlap runs unchanged on a stream; chunks equal the batch result") {
    // C67 is a zero-shuffle projection, so the SAME code serves batch
    // backfill and continuous ingest — sorted=false skips the
    // presentation sort a stream can't do
    val dir = tmpDir("graft_stream_chunks")
    val batch = Catalog.load(spark, sf, "documents").select(col("doc_id"), col("text"))
    batch.repartition(2).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = operators.Curation.chunkOverlap(stream, "doc_id", "text", 64, 48, sorted = false)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("chunk_stream_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("chunk_stream_out").orderBy("doc_id", "chunk_id").collect()
      val expected = operators.Curation.chunkOverlap(batch, "doc_id", "text", 64, 48).collect()
      assert(streamed.toSeq == expected.toSeq && streamed.nonEmpty)
    } finally q.stop()
  }

  test("bucketed tables join without a shuffle on either side") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Seq("b_orders", "b_lineitem").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir") + s"/$t")
        loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
      }
      Writers.bucketedTable(
        Catalog.load(spark, sf, "orders").select("o_orderkey", "o_totalprice"), "b_orders", "o_orderkey", 4)
      Writers.bucketedTable(
        Catalog.load(spark, sf, "lineitem").select("l_orderkey", "l_quantity"), "b_lineitem", "l_orderkey", 4)
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(joined.count() == Catalog.load(spark, sf, "lineitem").count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed hash index: the batch probe join has no index-side exchange") {
    // the C28 scaladoc's scale claim, pinned as a plan: with the index
    // stored bucketed by h, a probe shuffles ONLY the (small) batch —
    // the 100 TB index is read in place, bucket by bucket
    def count(hay: String, needle: String): Int =
      hay.sliding(needle.length).count(_ == needle)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.sql("DROP TABLE IF EXISTS b_hashidx")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + "/b_hashidx")
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
      val docs = Catalog.load(spark, sf, "documents")
      Writers.bucketedTable(
        graft.operators.Dedup.buildHashIndex(docs.filter(col("doc_id") < 40), "doc_id", "text"),
        "b_hashidx", "h", 4)
      val batch = docs.filter(col("doc_id") >= 40).select("doc_id", "text")
      val probed = graft.operators.Dedup.exactAgainstIndex(
        batch, "doc_id", "text", spark.table("b_hashidx"))
      val plan = probed.queryExecution.executedPlan.toString
      // exactly the batch-side exchange (plus the output sort); the
      // index scan feeds the join directly from its buckets
      val scanToJoin = plan.linesIterator.dropWhile(!_.contains("SortMergeJoin")).toSeq
      assert(plan.contains("SortMergeJoin"), plan)
      val idxSide = scanToJoin.filter(_.contains("b_hashidx"))
      assert(idxSide.nonEmpty, plan)
      // no Exchange between the index relation and the join: the only
      // exchanges in the whole plan are batch hash + output range
      assert(count(plan, "Exchange") <= 2, plan)
      assert(probed.count() == batch.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned writer: layout prunes and reads back identically") {
    val out = tmpDir("graft_writer") + "/events_by_type"
    val ev = Catalog.load(spark, sf, "events")
    Writers.partitionedParquet(ev, out, Seq("event_type"), Seq("ts"))
    val back = spark.read.parquet(out)
    assert(back.count() == ev.count())
    val pruned = back.filter(col("event_type") === "click")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") || pruned.count() > 0)
  }
}
