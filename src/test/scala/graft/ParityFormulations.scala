package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parity-only reference formulations: the declarative shapes the
  * byte kernels replaced (and the shapes the DuckDB oracle runs).
  * OptimizationParitySpec diffs each kernel against its reference
  * row for row; nothing in `main` calls them. They extend the
  * operator objects, so tests and probes call them as members, e.g.
  * `TextAnalysis.gopherGateDeclarative(df, "doc_id", "text")` (a
  * package object's implicits are in the implicit scope of the
  * package's types).
  */
package object operators {

  implicit class TextAnalysisParity(private val self: TextAnalysis.type) extends AnyVal {

    /** The split/regex/HOF reference of [[TextAnalysis.gopherGate]]. */
    def gopherGateDeclarative(df: DataFrame, idCol: String, textCol: String): DataFrame = {
      val c = col(textCol)
      val w = TextAnalysis.words(c)
      val lines = split(c, "\n")
      val gStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      TextAnalysis.gopherFlags(
        df.select(
          col(idCol),
          size(w).cast("long").as("n_words"),
          aggregate(w, lit(0L), (a, x) => a + length(x)).as("sum_len"),
          (length(c) - length(regexp_replace(c, "#", ""))).cast("long").as("n_hash"),
          (((length(c) - length(regexp_replace(c, "\\.\\.\\.", ""))) / 3).cast("long") +
            (length(c) - length(regexp_replace(c, "…", ""))).cast("long")).as("n_ell"),
          size(lines).cast("long").as("n_lines"),
          size(filter(lines, l => {
            val t = ltrim(l)
            t.startsWith("-") || t.startsWith("*") || t.startsWith("•")
          })).cast("long").as("n_bullet"),
          size(filter(lines, l => {
            val t = rtrim(l)
            t.endsWith("...") || t.endsWith("…")
          })).cast("long").as("n_ell_line"),
          size(filter(w, x => x.rlike("[a-z]"))).cast("long").as("n_alpha"),
          gStops.map(s => when(array_contains(w, s), 1L).otherwise(0L)).reduce(_ + _).as("n_gstop")),
        idCol)
    }

    /** The HOF/concat reference of [[TextAnalysis.watermarkScore]]. */
    def watermarkScoreDeclarative(
        df: DataFrame,
        idCol: String,
        textCol: String,
        key: String = "graft"
    ): DataFrame = {
      import graft.functions.Fingerprint64.fingerprint64
      val w = TextAnalysis.words(col(textCol))
      val greens = zip_with(
        slice(w, lit(1), size(w) - 1),
        slice(w, lit(2), size(w) - 1),
        (p, c) => when(
          (fingerprint64(concat(lit(key), lit("\u0001"), p, lit("\u0001"), c))
            .bitwiseAND(3L)) === 0L, 1L).otherwise(0L))
      df.select(col(idCol), (size(w) - 1).cast("long").as("n_bigrams"),
          aggregate(greens, lit(0L), (acc, x) => acc + x).as("n_green"))
        .filter(col("n_bigrams") > 0L)
        .select(col(idCol), col("n_bigrams"), col("n_green"),
          expr("10000 * n_green DIV n_bigrams").as("green_bp"),
          expr("10000 * n_green DIV n_bigrams - 2500").as("excess_bp"),
          expr("CAST(CASE WHEN 4 * n_green > n_bigrams AND " +
            "(4 * n_green - n_bigrams) * (4 * n_green - n_bigrams) > 48 * n_bigrams " +
            "THEN 1 ELSE 0 END AS BIGINT)").as("flagged"))
        .orderBy(col(idCol))
    }
  }

  implicit class CurationParity(private val self: Curation.type) extends AnyVal {

    /** The gaps-and-islands reference of [[Curation.dupSpanStats]]. */
    def dupSpanStatsDeclarative(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
      val exploded = df
        .select(col(idCol).as("id"),
          when(size(split(Dedup.normalize(col(textCol)), " ")) >= n,
            graft.functions.VecOps.shingle_hashes(
              split(Dedup.normalize(col(textCol)), " "), n))
            .otherwise(array().cast("array<long>")).as("shs"))
        .select(col("id"), posexplode(col("shs")))
        .select(col("id"), col("pos").cast("long").as("pos"), col("col").as("sh"))
      val shared = exploded
        .withColumn("first_id", min(col("id")).over(Window.partitionBy(col("sh"))))
        .select(col("id"), col("pos"), (col("first_id") < col("id")).as("shared"))
      val counts = shared.groupBy(col("id"))
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("shared"), 1L).otherwise(0L)).as("dup_windows"))
      val runs = shared.filter(col("shared"))
        .withColumn("grp",
          col("pos") - row_number().over(Window.partitionBy(col("id")).orderBy(col("pos"))))
        .groupBy(col("id"), col("grp")).agg(count(lit(1)).as("c"))
        .groupBy(col("id")).agg(max(col("c")).as("max_dup_run"))
      df.select(col(idCol))
        .join(counts.withColumnRenamed("id", idCol), Seq(idCol), "left")
        .join(runs.withColumnRenamed("id", idCol), Seq(idCol), "left")
        .select(
          col(idCol),
          coalesce(col("n_windows"), lit(0L)).as("n_windows"),
          coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
          coalesce(col("max_dup_run"), lit(0L)).as("max_dup_run"))
        .orderBy(col(idCol))
    }

    /** The sequence-explode/distinct/array_contains reference of
      * [[Curation.clipDedup]].
      */
    def clipDedupDeclarative(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
      val docs = df.select(col(idCol).as("id"), split(Dedup.normalize(col(textCol)), " ").as("__ws"))
      val exploded = docs
        .select(col("id"),
          when(size(col("__ws")) >= n,
            graft.functions.VecOps.shingle_hashes(col("__ws"), n))
            .otherwise(array().cast("array<long>")).as("shs"))
        .select(col("id"), posexplode(col("shs")))
        .select(col("id"), col("pos").cast("long").as("pos"), col("col").as("sh"))
      val removedPos = exploded
        .withColumn("first_id", min(col("id")).over(Window.partitionBy(col("sh"))))
        .filter(col("first_id") < col("id"))
        .select(col("id"), explode(sequence(col("pos"), col("pos") + (n - 1))).as("tpos"))
        .distinct()
      val removed = removedPos.groupBy(col("id"))
        .agg(collect_set(col("tpos")).as("rm"), count(lit(1)).as("n_removed"))
      docs
        .join(removed, Seq("id"), "left")
        .select(
          col("id").as(idCol),
          size(col("__ws")).cast("long").as("n_tokens"),
          coalesce(col("n_removed"), lit(0L)).as("n_removed"),
          md5(array_join(
            filter(col("__ws"), (_, i) =>
              !array_contains(coalesce(col("rm"), array().cast("array<long>")), i.cast("long"))),
            " ").cast("binary")).as("clean_hash"))
        .orderBy(col(idCol))
    }
  }
}
