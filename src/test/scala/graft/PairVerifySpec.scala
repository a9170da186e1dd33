package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.operators.Dedup

/** The exact verify stages every near-dup pair operator of `Dedup`
  * ends in — `exactJaccard`, `exactContainment` (screen off) and
  * `exactCosine` — against plain-Scala references, on seeded sets and
  * vectors plus planted pairs exactly at each threshold
  * (100·|∩| = τ·|∪|, 100·|∩| = τ·|smaller|, cos = τ) and just below
  * it. The operators' candidates always share an element, so an empty
  * set meets a verify only against a non-empty one, where Jaccard is
  * 0; containment over an empty smaller side is undefined and is not
  * a candidate.
  */
class PairVerifySpec extends SparkSpec {

  private val setSchema = StructType(Seq(
    StructField("id", LongType), StructField("hs", ArrayType(LongType)), StructField("nsh", LongType)))

  private def sets(rows: Seq[(Long, Seq[Long])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, s) => Row(id, s.sorted, s.size.toLong) }, 3),
      setSchema)

  private def pairs(ps: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    ps.toDF("id_a", "id_b").repartition(3)
  }

  /** Seeded distinct sets over a 10-element universe — many pairs land
    * exactly on a threshold — with sizes 0 to 7; `base` offsets the ids.
    */
  private def randomSets(seed: Int, count: Int, base: Long): Seq[(Long, Seq[Long])] = {
    val rnd = new scala.util.Random(seed)
    (0 until count).map(i => (base + i, rnd.shuffle((0L until 10L).toList).take(rnd.nextInt(8))))
  }

  // planted, Jaccard: 900×1900 = 50, 901×1901 = 80, 902×1902 = 100 (sets of
  // one), 903×1903 = 50 (below 80); containment: 900×1904 = 50,
  // 901×1905 = 80, 900×1900 and 901×1901 = 100
  private val plantedA = Seq(
    (900L, Seq(1L, 2L)), (901L, Seq(1L, 2L, 3L, 4L, 5L)), (902L, Seq(7L)), (903L, Seq(1L, 2L, 3L, 4L, 5L)))
  private val plantedB = Seq(
    (1900L, Seq(1L)), (1901L, Seq(1L, 2L, 3L, 4L)), (1902L, Seq(7L)), (1903L, Seq(1L, 2L, 3L, 6L)),
    (1904L, Seq(1L, 3L, 8L, 9L)), (1905L, Seq(1L, 2L, 3L, 4L, 8L, 9L)))

  private def check(got: DataFrame, want: Seq[Row], ctx: String): Unit = {
    val rows = got.collect().toSeq
    assert(rows == want, s"$ctx: got ${rows.take(8)}, want ${want.take(8)}")
  }

  test("exactJaccard equals the reference at τ 50, 80, 100, thresholds met exactly included") {
    val as = randomSets(1, 40, 0L) ++ plantedA
    val bs = randomSets(2, 40, 1000L) ++ plantedB
    // every pair but two empty sets (no union, no Jaccard)
    val cands = for ((a, sa) <- as; (b, sb) <- bs if sa.nonEmpty || sb.nonEmpty) yield (a, b, sa.toSet, sb.toSet)
    val (fa, fb, fc) = (sets(as), sets(bs), pairs(cands.map(c => (c._1, c._2))))
    for (tau <- Seq(50, 80, 100)) {
      val want = cands.flatMap { case (a, b, sa, sb) =>
        val i = (sa intersect sb).size.toLong
        val u = sa.size + sb.size - i
        if (i * 100 >= u * tau) Some(Row(a, b, math.floor(i * 100.0 / u).toLong)) else None
      }.sortBy(r => (r.getLong(0), r.getLong(1)))
      assert(want.exists(r => r.getLong(2) == tau), s"τ $tau: no pair sits exactly on the threshold")
      assert(want.exists(r => r.getLong(0) == 901L && r.getLong(1) == 1901L) == (tau <= 80), s"τ $tau")
      assert(want.exists(r => r.getLong(0) == 903L && r.getLong(1) == 1903L) == (tau <= 50), s"τ $tau")
      check(Dedup.exactJaccard(fc, fa, fb, tau), want, s"τ $tau")
    }
  }

  test("exactContainment without the screen equals the reference at τ 50, 80, 100, thresholds met exactly included") {
    val as = randomSets(3, 40, 0L) ++ plantedA
    val bs = randomSets(4, 40, 1000L) ++ plantedB
    val cands = for ((a, sa) <- as; (b, sb) <- bs if sa.nonEmpty && sb.nonEmpty) yield (a, b, sa.toSet, sb.toSet)
    val (fa, fb, fc) = (sets(as), sets(bs), pairs(cands.map(c => (c._1, c._2))))
    for (tau <- Seq(50, 80, 100)) {
      val want = cands.flatMap { case (a, b, sa, sb) =>
        val i = (sa intersect sb).size.toLong
        val small = math.min(sa.size, sb.size).toLong
        if (i * 100 >= small * tau) Some(Row(a, b, math.floor(i * 100.0 / small).toLong)) else None
      }.sortBy(r => (r.getLong(0), r.getLong(1)))
      assert(want.exists(r => r.getLong(2) == tau), s"τ $tau: no pair sits exactly on the threshold")
      assert(want.exists(r => r.getLong(0) == 901L && r.getLong(1) == 1901L), s"τ $tau: a subset pair")
      assert(want.exists(r => r.getLong(0) == 900L && r.getLong(1) == 1904L) == (tau <= 50), s"τ $tau")
      assert(want.exists(r => r.getLong(0) == 901L && r.getLong(1) == 1905L) == (tau <= 80), s"τ $tau")
      check(Dedup.exactContainment(fc, fa, fb, tau, screen = false), want, s"τ $tau")
    }
  }

  test("exactCosine equals the reference at τ 0.5, 0.8, 1.0, thresholds met exactly included") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", ArrayType(FloatType)), StructField("nrm", DoubleType)))
    def dot(x: Seq[Float], y: Seq[Float]): Double = x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
    def vecs(rows: Seq[(Long, Seq[Float])]): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v) => Row(id, v, math.sqrt(dot(v, v))) }, 3), schema)
    val rnd = new scala.util.Random(5)
    // small integer components: every dot product and norm² is exact
    def random(base: Long): Seq[(Long, Seq[Float])] = Iterator.continually(Seq.fill(4)((rnd.nextInt(5) - 2).toFloat))
      .filter(_.exists(_ != 0f)).take(40).toSeq.zipWithIndex.map { case (v, i) => (base + i, v) }
    // planted: 900×1900 = 0.5, 901×1900 = 0.8, 901×1902 = 1 exactly, and
    // 901×1901 = 0.6, below 0.8
    val as = random(0L) ++ Seq((900L, Seq(1f, 1f, 1f, 1f)), (901L, Seq(4f, 3f, 0f, 0f)))
    val bs = random(1000L) ++ Seq((1900L, Seq(1f, 0f, 0f, 0f)), (1901L, Seq(0f, 5f, 0f, 0f)),
      (1902L, Seq(8f, 6f, 0f, 0f)))
    val cands = for ((a, va) <- as; (b, vb) <- bs) yield (a, b, va, vb)
    val (fa, fb, fc) = (vecs(as), vecs(bs), pairs(cands.map(c => (c._1, c._2))))
    for (tau <- Seq(0.5, 0.8, 1.0)) {
      val want = cands.collect {
        case (a, b, va, vb) if dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb))) >= tau => Row(a, b)
      }.sortBy(r => (r.getLong(0), r.getLong(1)))
      assert(want.exists(r => r.getLong(0) == 900L && r.getLong(1) == 1900L) == (tau <= 0.5), s"τ $tau")
      assert(want.exists(r => r.getLong(0) == 901L && r.getLong(1) == 1900L) == (tau <= 0.8), s"τ $tau")
      assert(want.exists(r => r.getLong(0) == 901L && r.getLong(1) == 1902L), s"τ $tau: parallel vectors")
      assert(want.exists(r => r.getLong(0) == 901L && r.getLong(1) == 1901L) == (tau <= 0.6), s"τ $tau")
      check(Dedup.exactCosine(fc, fa, fb, tau).orderBy("id_a", "id_b"), want, s"τ $tau")
    }
  }
}
