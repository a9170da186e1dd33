package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.sources.{Catalog, SchemaCache}

/** `Catalog.readParquet`'s listing-keyed schema cache: a warm load of
  * unchanged files runs no footer job, and anything that changes the
  * schema Spark would infer (the files, a parquet conf) re-infers.
  */
class CatalogSchemaCacheSpec extends SparkSpec {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Run `f` with `conf` set to `value`, then restore the session's
    * previous setting: the session is shared across suites.
    */
  private def withConf[T](conf: String, value: String)(f: => T): T = {
    val before = spark.conf.getOption(conf)
    spark.conf.set(conf, value)
    try f
    finally before.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }

  test("a second load of an unchanged table runs no Spark job, same schema and rows") {
    val dir = tmp("graft_pqcache_orders")
    Catalog.load(spark, sf, "orders").write.parquet(s"$dir/orders.parquet")
    val (cold, coldJobs) = jobsDuring(Catalog.load(spark, dir, "orders"))
    val (warm, warmJobs) = jobsDuring(Catalog.load(spark, dir, "orders"))
    assert(coldJobs > 0, "the first load infers the schema from a footer")
    assert(warmJobs == 0, s"a warm load of unchanged files ran $warmJobs jobs")
    assert(warm.schema == cold.schema)
    assert(rows(warm) == rows(cold))
  }

  test("overwriting a table with an added column re-infers and exposes the column") {
    import spark.implicits._
    val path = s"${tmp("graft_pqcache_evolve")}/t.parquet"
    Seq((1L, "a")).toDF("id", "v").write.parquet(path)
    assert(Catalog.readParquet(spark, path).columns.toSeq == Seq("id", "v"))
    assert(Catalog.readParquet(spark, path).columns.toSeq == Seq("id", "v"))
    Thread.sleep(5) // ensure a distinct mtime
    Seq((2L, "b", 7)).toDF("id", "v", "w").write.mode("overwrite").parquet(path)
    val evolved = Catalog.readParquet(spark, path)
    assert(evolved.columns.toSeq == Seq("id", "v", "w"))
    assert(rows(evolved) == Seq("[2,b,7]"))
  }

  test("a day-partitioned directory: same schema and rows, cached and uncached") {
    val path = s"${tmp("graft_pqcache_days")}/events.parquet"
    Catalog.load(spark, sf, "events").withColumn("day", to_date(col("ts")))
      .write.partitionBy("day").parquet(path)
    val plain = spark.read.parquet(path)
    val miss = Catalog.readParquet(spark, path)
    val (hit, hitJobs) = jobsDuring(Catalog.readParquet(spark, path))
    assert(plain.schema.fieldNames.last == "day")
    assert(miss.schema == plain.schema)
    assert(hit.schema == plain.schema)
    assert(hitJobs == 0, s"$hitJobs jobs")
    val expected = rows(plain)
    assert(expected.nonEmpty)
    assert(rows(miss) == expected)
    assert(rows(hit) == expected)
  }

  test("events: parquet confs are part of the key, so each setting gets its own ts type") {
    // a TIMESTAMP(NANOS) column reads as a raw Long under nanosAsLong
    // and is rejected without it; a cached Long schema must not
    // outlive the setting it was inferred under
    val dir = tmp("graft_pqcache_nanos")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new Path(s"$dir/events.parquet/part-00000.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    try writer.write(groups.newGroup().append("id", 1L).append("ts", 1704067200123456789L))
    finally writer.close()
    val path = s"$dir/events.parquet"
    val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
    withConf(nanosAsLong, "true") {
      val raw = Catalog.loadEventsRaw(spark, dir)
      assert(raw.schema("ts").dataType == LongType)
      assert(rows(raw) == Seq("[1,1704067200123456789]"))
      val micros = Catalog.loadEvents(spark, dir).select(unix_micros(col("ts"))).collect()
      assert(micros.map(_.getLong(0)).toSeq == Seq(1704067200123456L))
    }
    withConf(nanosAsLong, "false") {
      val plain = intercept[AnalysisException](spark.read.parquet(path).schema)
      val cached = intercept[AnalysisException](Catalog.readParquet(spark, path).schema)
      assert(cached.getCondition == plain.getCondition)
    }
    // micros without UTC adjustment: TIMESTAMP_NTZ or TIMESTAMP by
    // inferTimestampNTZ, both readable
    val inferNtz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val micros = s"$sf/events.parquet"
    val ntz = withConf(inferNtz, "true")(Catalog.readParquet(spark, micros).schema("ts").dataType)
    val ltz = withConf(inferNtz, "false")(Catalog.readParquet(spark, micros).schema("ts").dataType)
    assert(ntz == TimestampNTZType)
    assert(ltz == TimestampType)
    assert(withConf(inferNtz, "true")(Catalog.readParquet(spark, micros).schema("ts").dataType) == ntz)
  }

  test("a missing path throws the same exception class as spark.read.parquet") {
    val missing = s"${tmp("graft_pqcache_missing")}/absent.parquet"
    val plain = intercept[Exception](spark.read.parquet(missing))
    val cached = intercept[Exception](Catalog.readParquet(spark, missing))
    assert(cached.getClass == plain.getClass)
    assert(cached.getMessage == plain.getMessage)
  }

  test("the bounded cache evicts its least recently used entry past its capacity") {
    val cap = SchemaCache.Capacity
    assert(cap == 64)
    val cache = new SchemaCache[Int]
    for (i <- 1 to cap) cache.put(s"k$i", i)
    assert(cache.get("k1").contains(1)) // a read makes k1 the most recent
    for (i <- cap + 1 to cap + 8) {
      cache.put(s"k$i", i)
      assert(cache.size <= cap)
    }
    assert(cache.size == cap)
    assert(cache.get("k1").contains(1), "a recently read entry survives")
    assert(cache.get("k2").isEmpty, "the least recently used entry goes first")
    assert(cache.get(s"k${cap + 8}").contains(cap + 8))
  }

  test("the parquet schema cache never holds more than its capacity") {
    import spark.implicits._
    val cap = SchemaCache.Capacity
    val root = tmp("graft_pqcache_cap")
    for (i <- 1 to cap + 8) {
      val path = s"$root/t$i.parquet"
      Seq(i.toLong).toDF("id").write.parquet(path)
      Catalog.readParquet(spark, path)
      assert(Catalog.schemaCacheSize <= cap)
    }
    assert(Catalog.schemaCacheSize == cap)
  }

  test("a second fitCentroids on the same frame runs no Spark job") {
    val embs = Catalog.load(spark, sf, "embeddings").filter(col("vec_id") < 300)
    val (cold, coldJobs) = jobsDuring(graft.operators.Similarity.fitCentroids(embs, "embedding", 3))
    val (warm, warmJobs) = jobsDuring(graft.operators.Similarity.fitCentroids(embs, "embedding", 3))
    assert(coldJobs > 0, "the first call fits k-means")
    assert(warmJobs == 0, s"a warm fit of an unchanged frame ran $warmJobs jobs")
    assert(warm.map(_.toSeq).toSeq == cold.map(_.toSeq).toSeq)
  }

  test("fitCentroids and IVF-PQ codebooks over two different checkpointed corpora fit each corpus") {
    // a checkpoint prints only its columns and has no files, so only
    // its RDD id tells the two corpora apart
    val embs = Catalog.load(spark, sf, "embeddings")
    val corpora = Seq(embs.filter(col("vec_id") < 250), embs.filter(col("vec_id") >= 250))
    val fits = corpora.map(c => graft.operators.Similarity.fitCentroids(
      c.select("embedding").localCheckpoint(), "embedding", 3).map(_.toSeq).toSeq)
    val sameFit = fits(0) == fits(1)
    assert(!sameFit, "the second corpus reused the first corpus's centroids")
    // the IVF-PQ build trains its codebooks on a checkpoint of residuals
    val books = corpora.map { c =>
      val dir = tmp("graft_ivfpq_books")
      graft.operators.Similarity.buildIvfPqIndex(spark, c, "vec_id", "embedding", dim = 64,
        nClusters = 4, indexDir = dir, m = 8, kCodes = 16)
      rows(spark.read.parquet(s"$dir/codebooks"))
    }
    val sameBooks = books(0) == books(1)
    assert(!sameBooks, "the second build reused the first build's codebooks")
  }
}
