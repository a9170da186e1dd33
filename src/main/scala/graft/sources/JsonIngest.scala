package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Flatten

/** Semi-structured ingestion: schema discovery over a JSON string
  * column — the Spark-native form of the reference's mapping fetch +
  * data scan (es_to_bytehouse.py:260-294 `get_es_mapping`/
  * `flatten_mapping`, 338-395 `scan_all_fields`).
  *
  * Discovery reads a bounded sample (distributed `limit`, one small
  * job) — the 100 TB path never full-scans to learn a schema, exactly
  * like the reference's `sample_size` bound.
  */
object JsonIngest {

  /** Field scan: which keys appear in the data and how often. The
    * reference walks documents in Python; here it is one distributed
    * explode + count-aggregate.
    */
  def scanFields(df: DataFrame, jsonCol: String): DataFrame =
    df.select(explode(json_object_keys(col(jsonCol))).as("field"))
      .groupBy(col("field"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("field"))

  /** Inferred schemas keyed by (source plan, column): a sync pipeline
    * discovers a source's shape once per round, then parses millions
    * of batches with it — re-inferring per query would add two jobs
    * each time. Deterministic (same sample → same schema), so caching
    * cannot change results. One entry per (source, column, data
    * version), LRU-bounded at [[SchemaCacheCapacity]] entries by the
    * shared [[SchemaCache]] policy.
    */
  private[graft] val SchemaCacheCapacity = SchemaCache.Capacity

  private val schemaCache = new SchemaCache[StructType]

  private[graft] def schemaCacheSize: Int = schemaCache.size

  /** Infer a StructType for the JSON column from a bounded sample.
    * Cache key = plan + data fingerprint (file listing/mtimes), so
    * fields appearing in later batches at the same path re-trigger
    * inference instead of being silently dropped.
    */
  def inferSchema(spark: SparkSession, df: DataFrame, jsonCol: String, sample: Int = 5000): StructType = {
    val key = planKey(df) + "#" + jsonCol + "#" + sample + "#" + Catalog.dataFingerprint(spark, df)
    schemaCache.get(key).getOrElse {
      import spark.implicits._
      val ds = df.select(col(jsonCol)).na.drop().limit(sample).as[String]
      val schema = spark.read.json(ds).schema
      schemaCache.put(key, schema)
      schema
    }
  }

  /** The plan part of the schema cache key. Attribute exprIds
    * (`props#123`) differ on every load of the same files, so a plan
    * that only scans files keys on its canonical (exprId-normalized)
    * form, and the data fingerprint pins the files. Any other leaf
    * (local rows, an RDD, a JDBC table) has no fingerprint, so its
    * key keeps the exprIds: one frame, one key. Printed without the
    * field-count cap, so wide plans do not truncate to equal keys.
    */
  private def planKey(df: DataFrame): String = {
    val plan = df.queryExecution.analyzed
    val filesOnly = plan.collectLeaves().forall {
      case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
      case _                  => false
    }
    (if (filesOnly) plan.canonicalized else plan).treeString(verbose = true, maxFields = Int.MaxValue)
  }

  /** Parse + flatten the JSON column into sanitized `prefix_key`
    * String columns alongside the passthrough columns — the
    * reference's document pipeline as one codegen'd projection.
    *
    * `keepSource = true` is the reference's STORE_SOURCE mode
    * (es_to_bytehouse.py:161-162, 616-618): the raw document JSON
    * rides along as a `_source` column next to the flattened fields.
    *
    * `addTimestampUs` is the reference's ADD_TIMESTAMP mode
    * (mongodb_to_bytehouse.py:133, 372): stamp every ingested row with
    * the sync time as a `_timestamp` column.
    *
    * `schemaOverride` bypasses the cached inference — callers feeding
    * driver-built frames (wire-client pages, which have no file
    * fingerprint for the cache key) pass a per-batch schema so two
    * same-shaped batches can never share a stale inferred schema.
    */
  def parseAndFlatten(
      spark: SparkSession,
      df: DataFrame,
      jsonCol: String,
      sample: Int = 5000,
      keepSource: Boolean = false,
      addTimestampUs: Option[Long] = None,
      schemaOverride: Option[StructType] = None
  ): DataFrame = {
    val schema = schemaOverride.getOrElse(inferSchema(spark, df, jsonCol, sample))
    val withSource = if (keepSource) df.withColumn("_source", col(jsonCol)) else df
    val parsed = withSource.withColumn(jsonCol, from_json(col(jsonCol), schema))
    val flat = Flatten.flatten(parsed)
    // all-String value model for the discovered fields (reference
    // stores every ES value as String: es_to_bytehouse.py:166-188)
    val discovered = flat.columns.filter(_.startsWith(s"${Flatten.sanitizeName(jsonCol)}_")).toSet
    val stringified = flat.select(flat.columns.toIndexedSeq.map { c =>
      if (discovered(c)) col(c).cast("string").as(c) else col(c)
    }: _*)
    addTimestampUs.fold(stringified)(us => graft.operators.Incremental.addSyncTimestamp(stringified, us))
  }

  /** A37 (`json_path_census`): recursive JSON path + type census at
    * DEPTH — the generalization of the reference's `scan_all_fields`
    * (es_to_bytehouse.py:338-395 walks sampled docs in Python and
    * records flattened field names) to arbitrarily nested
    * arrays-of-objects: every node in every document contributes
    * (path, json type), with `[]` marking array descent, and the
    * census reports value + containing-document counts per (path,
    * type). This is the schema-on-read profile a data-lake user runs
    * BEFORE committing to a schema: which paths exist, how deep, how
    * typed, how often — heterogeneous typing shows up as the same
    * path under two types.
    *
    * Plan: breadth-first over depth as ONE declarative plan on
    * Spark 4's VARIANT type — `parse_json` once at the root, then each
    * level is a `variant_explode` generator over the previous level's
    * container nodes (type-preserving at every depth — a
    * `map<string,string>` reparse would strip the quotes off string
    * leaves and make "123" indistinguishable from 123), with
    * `schema_of_variant` naming each node's type; the level unions
    * feed a single keyed aggregation. No shuffle before the final
    * groupBy, work ∝ total node count, depth bounded by `maxDepth`
    * (deeper nodes are censored, not errored — the reference's sample
    * bound discipline).
    */
  def pathCensus(df: DataFrame, idCol: String, jsonCol: String, maxDepth: Int = 8): DataFrame = {
    def typed(frame: DataFrame): DataFrame = frame
      .withColumn("st", schema_of_variant(col("v")))
      .withColumn(
        "jtype",
        when(col("st").startsWith("OBJECT"), "object")
          .when(col("st").startsWith("ARRAY"), "array")
          .when(col("st") === "STRING", "string")
          .when(col("st") === "BOOLEAN", "boolean")
          .when(col("st") === "VOID", "null")
          .otherwise("number"))
    val spark = df.sparkSession
    // each level PERSISTS and the loop exits at the first empty
    // frontier (children of an empty level are empty by induction, so
    // the union is unchanged): without this, union arm k re-executed
    // the whole parse+explode chain 1..k — level 1 ran maxDepth times,
    // ~maxDepth²/2 chain evaluations total, and levels past the data's
    // real depth still paid a full re-walk to find nothing (r12;
    // plans/r12/json_path_census_{before,after}.txt). The standard
    // BFS-materialization trade: each level is node-cardinality and
    // the final union reads ALL levels, so the worst-case cached
    // footprint is maxDepth × level size. persist, NOT
    // localCheckpoint, deliberately: the levels carry VARIANT
    // payloads, and the columnar InMemoryRelation both compresses
    // them and feeds the union arms through vectorized in-memory
    // scans — the checkpoint's row-block form measured 1.6× slower on
    // the whole query at sf1 (2.5 → 4.0 s, controls flat). One count
    // per level is the emptiness probe and doubles as the cache fill.
    // The small (path, type) result is collected (a checkpoint of it
    // measured slower at sf0.1), and the levels are released before
    // returning (see [[graft.operators.Materialize]]).
    val levels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def level(frame: DataFrame): DataFrame = {
      val l = typed(frame).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      levels += l
      l
    }
    try {
      var frontier = level(
        df.select(col(idCol).as("id"), lit("$").as("path"), parse_json(col(jsonCol)).as("v"))
          .filter(col(jsonCol).isNotNull))
      var out = frontier.select(col("id"), col("path"), col("jtype"))
      var depth = 1
      var drained = frontier.count() == 0L
      while (depth < maxDepth && !drained) {
        frontier = level(frontier
          .filter(col("jtype").isin("object", "array"))
          .select(col("id"), col("path"), col("jtype").as("ptype"), col("v"))
          // variant_explode is a table-valued generator: lateral-join it
          // against each container node (Spark 4's tvf + outer-reference
          // API), yielding (pos, key, value) per child
          .lateralJoin(spark.tvf.variant_explode(col("v").outer()))
          .select(
            col("id"),
            when(col("ptype") === "object", concat(col("path"), lit("."), col("key")))
              .otherwise(concat(col("path"), lit("[]"))).as("path"),
            col("value").as("v")))
        drained = frontier.count() == 0L
        if (!drained) out = out.unionByName(frontier.select(col("id"), col("path"), col("jtype")))
        depth += 1
      }
      val census = out
        .groupBy(col("path"), col("jtype"))
        .agg(count(lit(1)).as("n_values"), countDistinct(col("id")).as("n_docs"))
        .orderBy(col("path"), col("jtype"))
      spark.createDataFrame(java.util.Arrays.asList(census.collect(): _*), census.schema)
    } finally levels.reverseIterator.foreach(_.unpersist()) // deepest first: each level reads its parent
  }

  /** Corrupt-row quarantine — the parse-side pendant of the sink's
    * row-level fallback (the reference logs-and-skips malformed docs
    * per batch; a pipeline at scale must also KEEP them for triage,
    * not just drop). Returns (good, quarantined): malformed JSON is
    * detected via the parser's own corrupt-record column (PERMISSIVE
    * mode fills every schema field with null on corruption, so a
    * null-struct test can't see it), and quarantined rows carry the
    * raw payload for replay after a schema fix. One shared parse
    * expression — the split is two filters over the same plan, so a
    * caller writing both sides scans the source once per side with no
    * extra shuffle.
    */
  def parseWithQuarantine(
      spark: SparkSession,
      df: DataFrame,
      jsonCol: String,
      sample: Int = 5000
  ): (DataFrame, DataFrame) = {
    val inferred = inferSchema(spark, df, jsonCol, sample)
    // the inference sample may itself contain malformed docs, which
    // makes spark.read.json add a "_corrupt_record" field — drop it,
    // or the good side's schema would grow a phantom always-null
    // column that appears and disappears per batch with the sample
    val cleaned = org.apache.spark.sql.types.StructType(
      inferred.fields.filterNot(_.name == "_corrupt_record"))
    require(!cleaned.fieldNames.contains("__corrupt"),
      "input documents carry a top-level __corrupt field — rename it before quarantine parsing")
    val schema = cleaned.add("__corrupt", org.apache.spark.sql.types.StringType)
    val parsed = df.withColumn("__parsed",
      from_json(col(jsonCol), schema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "__corrupt")))
    val corrupt = col("__parsed.__corrupt").isNotNull
    val good = Flatten.flatten(
      parsed.filter(!corrupt)
        .withColumn("__parsed", col("__parsed").dropFields("__corrupt"))
        .drop(jsonCol).withColumnRenamed("__parsed", jsonCol))
    val quarantined = parsed.filter(corrupt).drop("__parsed")
    (good, quarantined)
  }
}
