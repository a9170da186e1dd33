package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** `Dedup.ngramJaccardPairs` has three exact tiers: the driver tier
  * (the default below `Dedup.DriverMaxEdges` posting entries), the
  * exact-df window tier and the Count-Min tier (both forced through
  * the package-private overload). On seeded corpora with planted
  * near-dups all three return the same rows in the same order with
  * the same schema, and equal a brute-force reference over every pair.
  */
class NgramJaccardTierSpec extends SparkSpec {
  import spark.implicits._

  /** Base docs over a 40-word vocabulary and planted near-dups of half
    * of them (a few words swapped, a word dropped or some appended),
    * every doc led by one shared phrase; plus the shared phrase alone,
    * empty texts, texts of one and two words (one spelled with other
    * case and spacing), a null text and, on some docs, a null id. Ids
    * are distinct, shuffled, some negative.
    */
  private def corpus(seed: Int): Seq[(Option[Long], Option[String])] = {
    val rnd = new scala.util.Random(seed)
    val vocab = (0 until 40).map(i => s"w$i")
    def words(k: Int): Seq[String] = Seq.fill(k)(vocab(rnd.nextInt(vocab.size)))
    val bases = Seq.fill(30)(words(6 + rnd.nextInt(20)))
    val dups = bases.take(15).flatMap { b =>
      Seq.fill(1 + rnd.nextInt(2)) {
        val edited = b.map(w => if (rnd.nextInt(10) == 0) vocab(rnd.nextInt(vocab.size)) else w)
        if (rnd.nextBoolean()) edited ++ words(rnd.nextInt(3)) else edited.drop(rnd.nextInt(2))
      }
    }
    val shared = "every doc opens so"
    val texts = rnd.shuffle((bases ++ dups).map(ws => Some((shared +: ws).mkString(" ")))) ++
      Seq(Some(shared), Some(""), Some(""), Some("w1"), Some("w1 w2"), Some(" W1   w2"), Some("w1 w2"), None)
    val ids = rnd.shuffle(texts.indices.map(i => 7L * i - 40L))
    texts.zip(ids).zipWithIndex.map { case ((t, id), i) => (if (i % 11 == 5) None else Some(id), t) }
  }

  /** Every pair of distinct non-null ids whose shingle sets meet τ. */
  private def bruteForce(docs: DataFrame, tauPct: Int): Seq[Row] = {
    val sets = docs
      .select(col("doc_id"), array_sort(array_distinct(Dedup.shingleHashSet(col("text"), 3))))
      .collect().filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getAs[Number](0).longValue, r.get(0), r.getSeq[Long](1).toSet))
    (for {
      (a, idA, sa) <- sets.toSeq; (b, idB, sb) <- sets.toSeq if a < b
      i = (sa intersect sb).size.toLong
      u = sa.size + sb.size - i if i * 100 >= u * tauPct
    } yield (a, b, Row(idA, idB, math.floor(i * 100.0 / u).toLong))).sortBy(t => (t._1, t._2)).map(_._3)
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("LocalRelation")

  test("driver, exact-df window and Count-Min tiers equal brute force: rows, order and schema") {
    for (seed <- Seq(11, 12); tau <- Seq(50, 70, 80, 100)) {
      val rows = corpus(seed)
      val nullable = rows.toDF("doc_id", "text")
      val intIds = rows.collect { case (Some(id), t) => (id.toInt, t) }.toDF("doc_id", "text")
      for (docs <- Seq(nullable, intIds)) {
        val ctx = s"seed $seed tau $tau ids ${docs.schema("doc_id")}"
        val driver = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tauPct = tau)
        val window = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, tau, 0L, forceSketch = Some(false))
        val sketch = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, tau, 0L, forceSketch = Some(true))
        assert(isLocal(driver), ctx)
        assert(!isLocal(window) && !isLocal(sketch), ctx)
        assert(driver.schema == window.schema, s"$ctx: ${driver.schema} vs ${window.schema}")
        assert(driver.schema == sketch.schema, s"$ctx: ${driver.schema} vs ${sketch.schema}")
        val got = driver.collect().toSeq
        assert(got.nonEmpty, s"$ctx: the planted near-dups must pair")
        assert(got == window.collect().toSeq, s"$ctx: driver vs window")
        assert(got == sketch.collect().toSeq, s"$ctx: driver vs Count-Min")
        assert(got == bruteForce(docs, tau), s"$ctx: driver vs brute force")
      }
    }
  }

  test("a repeated id or a non-integral id routes the corpus to the distributed tiers") {
    val rows = corpus(13).collect { case (Some(id), t) => (id, t) }
    // two different texts under one id: the window tier verifies both
    // copies against every partner of either
    val repeated = (rows :+ ((rows.head._1, rows(1)._2))).toDF("doc_id", "text")
    val routed = Dedup.ngramJaccardPairs(repeated, "doc_id", "text", n = 3, tauPct = 70)
    val window = Dedup.ngramJaccardPairs(repeated, "doc_id", "text", 3, 70, 0L, forceSketch = Some(false))
    assert(!isLocal(routed))
    assert(routed.schema == window.schema)
    def sorted(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(sorted(routed).nonEmpty && sorted(routed) == sorted(window))

    val strIds = rows.map { case (id, t) => (s"d$id", t) }.toDF("doc_id", "text")
    val byString = Dedup.ngramJaccardPairs(strIds, "doc_id", "text", n = 3, tauPct = 70)
    assert(!isLocal(byString))
    assert(byString.collect().toSeq ==
      Dedup.ngramJaccardPairs(strIds, "doc_id", "text", 3, 70, 0L, forceSketch = Some(false)).collect().toSeq)
  }

  test("copies of one template under the posting gate route to the distributed tiers by their pair count") {
    // 60 copies of a 25-word template share their whole prefix: each
    // of the ~5 prefix posting lists at τ 80 holds all 60, about 8.9k
    // pairs against ~1.4k posting entries
    val template = (0 until 25).map(i => s"t$i").mkString(" ")
    val docs = ((0 until 60).map(i => (1000L + i, template)) ++
      corpus(14).collect { case (Some(id), Some(t)) => (id, t) }).toDF("doc_id", "text")
    val posts = docs.select(sum(size(array_distinct(Dedup.shingleHashSet(col("text"), 3))))).head().getLong(0)
    val routed = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 80, posts, forceSketch = None)
    val driver = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tauPct = 80)
    assert(!isLocal(routed), s"$posts posting entries pass the gate; the pairs must not")
    assert(isLocal(driver))
    assert(routed.schema == driver.schema)
    val got = routed.collect().toSeq
    assert(got.count(r => r.getLong(0) >= 1000L && r.getLong(1) < 1060L) == 60 * 59 / 2)
    assert(got == driver.collect().toSeq)
    assert(got == bruteForce(docs, 80))
  }
}
