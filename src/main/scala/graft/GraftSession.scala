package graft

import org.apache.spark.sql.SparkSession

/** Tuned session factory for the graft engine.
  *
  * Local testing runs `local[32]`; the same conf names govern cluster
  * deployments — only master/memory change. AQE stays on so skewed
  * shuffles re-plan at runtime (salting fallback for the pathological
  * cases is built into the operators that need it).
  */
object GraftSession {

  /** Entries in Spark's compiled-class cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100).
    *
    * Spark builds that cache with Guava's `CacheBuilder.maximumSize`,
    * and Guava's default concurrency level splits it into 4 segments
    * that evict on their own, so the default keeps about 25 classes
    * per segment. graft's working sets are far larger, counted as
    * CodeGenerator compilations with the cache unbounded (sf0.01,
    * `local[4]`):
    *   - one `query` benchmark sweep (`graph_label_prop` +
    *     `dedup_keep_best` + `q5_join5`): 120 classes, 126 with the
    *     plan variants AQE's stage order adds;
    *   - one full `Verify` pass over the registry: about 2,770.
    * At 100 every warm sweep recompiles 86–88 of its 120 classes, and
    * a registry pass compiles 4,421 times instead of 2,771. At 1000
    * (about 8× the sweep, so every segment holds its share, and about
    * a third of the registry) a warm sweep compiles nothing. After a
    * registry pass and a full GC the driver holds 177 MB of heap and
    * 208 MB of metaspace with the cache full at 1000 entries, against
    * 150 MB and 201 MB at 100: the larger cache retains 28 MB of heap
    * and 7 MB of metaspace.
    *
    * The conf is static: it only takes effect when the builder creates
    * the SparkContext, and Spark sizes the cache once per JVM, when
    * the first query compiles. A session built before this one (or a
    * process that compiled code before any session) keeps its size.
    */
  val CodegenCacheEntries = 1000

  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
      .config("spark.ui.enabled", "false")

  def get(): SparkSession = builder().getOrCreate()
}
