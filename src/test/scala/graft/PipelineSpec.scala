package graft

import org.apache.spark.sql.functions._

import graft.functions.Fingerprint64
import graft.functions.Fingerprint64.fingerprint64
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.sources.Catalog

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Catalog.load(spark, sf, "documents")
  lazy val embs = Catalog.load(spark, sf, "embeddings")

  test("minhash-LSH finds every exact-Jaccard>=0.8 pair (recall=1 on test corpus)") {
    val exactPairs = Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", n = 3, tauPct = 80)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshPairs = Dedup
      .minhashLshPairs(docs, "doc_id", "text", k = 64, bands = 16, tauPct = 80)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.nonEmpty, "test corpus should contain near-dups")
    // LSH verifies on hashed shingles: candidates superset modulo band misses
    val missed = exactPairs -- lshPairs
    assert(missed.isEmpty, s"LSH missed exact pairs: $missed")
  }

  test("rrfFusionTopK: twin-in-both-arms fuses first; single-arm hits still surface; exact contributions") {
    import spark.implicits._
    val corpusText = Seq(
      (1L, "alpha beta alpha gamma"), // strong lexical AND vector match
      (2L, "alpha beta alpha beta"),  // lexical-only match
      (3L, "zzz yyy xxx www"),        // vector-only match
      (4L, "mmm nnn ooo ppp"), (5L, "qqq rrr sss ttt")
    ).toDF("doc_id", "text")
    val corpusVec = Seq(
      (1L, Array(0.95f, 0.05f)), (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 0.02f)),
      // mildly aligned fillers: they out-rank doc 2's orthogonal vector,
      // keeping the lexical-only doc OUT of the kEach=3 vector pool
      (4L, Array(0.3f, 0.4f)), (5L, Array(0.4f, 0.3f))
    ).toDF("vec_id", "embedding")
    val qT = Seq((100L, "alpha beta")).toDF("doc_id", "text")
    val qV = Seq((100L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.rrfFusionTopK(corpusText, qT, "doc_id", "text",
        corpusVec, qV, "vec_id", "embedding", kEach = 3, k = 5, rrfK = 60)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1 appears in both arms -> fused above every single-arm doc
    assert(got.head._2 == 1L, s"both-arms doc must fuse first: ${got.mkString(",")}")
    val ids = got.map(_._2).toSet
    assert(ids.contains(2L) && ids.contains(3L), "each arm's exclusive hit must surface")
    // integer RRF contributions are exact: a both-arms doc at ranks (ra, rb)
    // scores 1e6 DIV (60+ra) + 1e6 DIV (60+rb); doc 1 is lexical #2, vector #2
    // (doc 2 out-scores it lexically, doc 3 by cosine)
    val d1 = got.find(_._2 == 1L).get._3
    assert(d1 == 1000000L / 62 + 1000000L / 62, s"doc1 contribution was $d1")
  }

  test("containmentPairs: sketch df path equals the window df path pair-for-pair") {
    // the Count-Min rank order may differ from exact df order, but the
    // prefix theorem holds under ANY consistent order and the exact
    // verify decides every candidate — results must be identical
    val a = Dedup.containmentPairsImpl(docs, "doc_id", "text", 3, 70, forceSketch = Some(false))
      .collect().map(_.toSeq).toSet
    val b = Dedup.containmentPairsImpl(docs, "doc_id", "text", 3, 70, forceSketch = Some(true))
      .collect().map(_.toSeq).toSet
    assert(a.nonEmpty, "fixture corpus should contain containment pairs")
    assert(a == b, s"paths diverge: window-only ${(a -- b).size}, sketch-only ${(b -- a).size}")
  }

  test("containmentPairs: KMV screen is pair-identical to unscreened on the fixture corpus") {
    // the screen may only reject a true pair with P < 1e-6; on the
    // fixture the screened and unscreened pair sets must be identical
    val off = Dedup.containmentPairsImpl(docs, "doc_id", "text", 3, 70,
      forceSketch = None, screen = false).collect().map(_.toSeq).toSet
    val on = Dedup.containmentPairsImpl(docs, "doc_id", "text", 3, 70,
      forceSketch = None, screen = true).collect().map(_.toSeq).toSet
    assert(off.nonEmpty, "fixture corpus should contain containment pairs")
    assert(on == off, s"screen changed results: dropped ${(off -- on).size}, added ${(on -- off).size}")
  }

  test("containment KMV screen rejects low-containment junk candidates before the array fetch") {
    import spark.implicits._
    // small-vocabulary corpus shape that defeats the prefix filter:
    // docs draw 20 ten-word phrases from a shared pool of 600, so
    // pairs share a phrase or two (containment ~3%, pure junk at
    // tau=70) yet those shared shingles are rare enough to land in
    // df-order prefixes and survive the positional filter. This is a
    // miniature of the sf10 candidate explosion the screen exists for.
    val rnd = new scala.util.Random(42)
    val pool = (0 until 600).map(p => (0 until 10).map(w => s"p${p}w$w").mkString(" "))
    val rows = (0 until 100).map { i =>
      (i.toLong, (0 until 20).map(_ => pool(rnd.nextInt(600))).mkString(" "))
    }.toDF("doc_id", "text")
    val (total, kept) = Dedup.containmentScreenStats(rows, "doc_id", "text", n = 3, tauPct = 70)
    assert(total >= 20, s"pool corpus should create junk candidates, got $total")
    assert(kept * 2 < total, s"screen should reject most junk: kept $kept of $total")
    // and the operator still returns zero pairs for this corpus (exact verify)
    assert(Dedup.containmentPairs(rows, "doc_id", "text", n = 3, tauPct = 70).count() == 0)
  }

  test("kmvContainScreen kernel: binomial thresholds and pass/reject decisions") {
    import graft.functions.VecOps
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    // exact binomial tail thresholds at eps = 1e-6
    assert(VecOps.rejectThreshold(16, 70) == 1)
    assert(VecOps.rejectThreshold(16, 80) == 3)
    assert(VecOps.rejectThreshold(12, 70) == 0)
    assert(VecOps.rejectThreshold(8, 70) == -1) // small d never rejects
    assert(VecOps.rejectThreshold(4, 70) == -1)
    assert(VecOps.rejectThreshold(10, 100) == 9) // tau=1: any miss rejects
    def arr(xs: Int*) = UnsafeArrayData.fromPrimitiveArray(xs.map(_.toShort).toArray)
    // identical bottom-16 sketches of a contained pair: m = d -> keep
    val sk = arr((1 to 16): _*)
    assert(VecOps.kmvContainScreen(sk, 100L, sk, 200L, 70))
    // disjoint sketches, d = 16 (d counts entries STRICTLY below the
    // shared bound 31), m = 0 -> reject
    val skOdd = arr((1 to 33 by 2): _*)
    val skEven = arr((2 to 34 by 2): _*)
    assert(!VecOps.kmvContainScreen(skOdd, 100L, skEven, 200L, 70))
    // d capped by the DENSER side's bound: sketches cover disjoint
    // value ranges -> almost no decidable sample -> must pass through
    val skLow = arr((1 to 16): _*)
    val skHigh = arr((1000 to 1015): _*)
    assert(VecOps.kmvContainScreen(skHigh, 100L, skLow, 2000L, 70),
      "tiny decidable sample must never reject")
    // sketch holding the ENTIRE small set: bound is +inf, membership exact
    val whole = arr(5, 10, 15)
    assert(VecOps.kmvContainScreen(whole, 3L, arr((1 to 16): _*), 100L, 70))
    // kmvSketch16 truncates to sign-preserving top-16 bits, keeps order
    val hs = UnsafeArrayData.fromPrimitiveArray(
      Array(Long.MinValue, -1L << 48, 0L, 1L << 48, 3L << 48, Long.MaxValue))
    val tr = VecOps.kmvSketch16(hs, 4).toShortArray().toSeq
    assert(tr == Seq(Short.MinValue, (-1).toShort, 0.toShort, 1.toShort), tr.toString)
  }

  test("dfOrderSort and prefixSelect order by (sketch-df asc, h asc) in O(s log s)") {
    import graft.functions.{CountMin, VecOps}
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import spark.implicits._
    // grid where some keys are frequent: key k repeated k times
    val keys = (1L to 40L).flatMap(k => Seq.fill(k.toInt)(k))
    val cms = CountMin.build(keys.toDF("h"), "h")
    val rnd = new scala.util.Random(7)
    val hs = rnd.shuffle((1L to 40L).toList) ++ List(-5L, -2L) // negatives sort first within a tie
    val input = UnsafeArrayData.fromPrimitiveArray(hs.toArray)
    val got = VecOps.dfOrderSort(input, cms).toLongArray().toSeq
    val expected = hs.sortBy(h => (CountMin.estimate(cms, h), h))
    assert(got == expected, s"order mismatch:\n got $got\n exp $expected")
    // prefixSelect = the first (s - ceil(tau*s) + 1) of that order
    val s = hs.length
    val prefLen = (s - (s.toLong * 70 + 99) / 100 + 1).toInt
    val pref = VecOps.prefixSelect(input, cms, 70).toLongArray().toSeq
    assert(pref == expected.take(prefLen))
  }

  test("containment index probe == cross-restriction of the batch operator's pair set") {
    // the probe's hash-ascending prefixes and the batch operator's
    // df-ordered prefixes are different candidate generators for the
    // SAME lossless predicate — pair sets must match exactly on the
    // (batch x corpus) restriction
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val probed = Dedup.containmentAgainstIndex(batch, "doc_id", "text",
        Dedup.buildContainmentIndex(corpus, "doc_id", "text"), n = 3, tauPct = 70)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val all = Dedup.containmentPairs(docs, "doc_id", "text", n = 3, tauPct = 70)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cross = all.flatMap { case (a, b, c) =>
      // batch operator emits (smaller id, larger id); probe emits (batch, corpus)
      if (a % 10 == 0 && b % 10 != 0) Some((a, b, c))
      else if (b % 10 == 0 && a % 10 != 0) Some((b, a, c))
      else None
    }.toSet
    assert(cross.nonEmpty, "fixture should contain cross containment pairs")
    assert(probed == cross, s"probe-only ${(probed -- cross).size}, batch-only ${(cross -- probed).size}")
  }

  test("containment index: probe-after-append == rebuild; replayed batch folds in idempotently") {
    val corpus = docs.filter(col("doc_id") % 10 > 1)
    val batch1 = docs.filter(col("doc_id") % 10 === 1)
    val batch2 = docs.filter(col("doc_id") % 10 === 0)
    val base = Dedup.buildContainmentIndex(corpus, "doc_id", "text")
    val appended = Dedup.updateContainmentIndex(base, batch1, "doc_id", "text")
    val rebuilt = Dedup.buildContainmentIndex(
      corpus.unionByName(batch1), "doc_id", "text")
    def probe(idx: org.apache.spark.sql.DataFrame) =
      Dedup.containmentAgainstIndex(batch2, "doc_id", "text", idx, n = 3, tauPct = 70)
        .collect().map(_.toSeq).toSet
    val viaAppend = probe(appended)
    assert(viaAppend.nonEmpty, "batch2 should hit containment pairs")
    assert(viaAppend == probe(rebuilt), "append path diverges from rebuild")
    // replay: folding the same batch twice adds no rows and changes no probe
    val replayed = Dedup.updateContainmentIndex(appended, batch1, "doc_id", "text")
    assert(replayed.count() == appended.count())
    assert(probe(replayed) == viaAppend)
  }

  test("softDedup: weights split a cluster's mass, canonical flags recover hard dedup") {
    val dupped = docs.limit(20).select(col("doc_id"), col("text"))
      .unionAll(docs.limit(7).select(col("doc_id") + 100000, col("text")))
    val w = Dedup.softDedup(dupped, "doc_id", "text").collect()
    assert(w.length == 27, "every input doc keeps a row — nothing is dropped")
    val bySize = w.groupBy(_.getLong(1))
    // 7 clusters of size 2 (both members), the rest singletons at full weight
    assert(bySize(2L).length == 14 && bySize(2L).forall(_.getLong(2) == 500000L))
    assert(bySize(1L).forall(_.getLong(2) == 1000000L))
    // hard dedup recoverable: canonical count == distinct-content count,
    // and the canonical member is the min id of its cluster
    val canon = w.filter(_.getLong(3) == 1L).map(_.getLong(0)).toSet
    assert(canon.size == 20 && canon.forall(_ < 100000L))
  }

  test("simhash: identical docs collide, near-dups are close in Hamming space") {
    val sig = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("s"))
    // deterministic across evaluations
    val a = sig.orderBy("doc_id").collect().map(_.getLong(1))
    val b = sig.orderBy("doc_id").collect().map(_.getLong(1))
    assert(a.sameElements(b))
    // a doc vs itself → hamming 0 via the pairs pipeline on a dup'd frame
    val dupped = docs.limit(5).select(col("doc_id"), col("text"))
      .unionAll(docs.limit(5).select(col("doc_id") + 100000, col("text")))
    val pairs = Dedup.simhashPairs(dupped, "doc_id", "text", maxHamming = 0)
    assert(pairs.count() == 5)
  }

  test("lsh-blocked embedding dedup: high recall vs exact all-pairs, nothing extra") {
    val e = embs.select(col("vec_id"), col("embedding"))
    val pert = e.select(
      (col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i === 0, x + lit(0.05f)).otherwise(x)).as("embedding"))
    val u = e.unionByName(pert)
    val exact = Dedup.embeddingPairs(u, "vec_id", "embedding", tau = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Dedup
      .embeddingPairsLsh(u, "vec_id", "embedding", tau = 0.99, planes = 8, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 400, s"staged corpus should pair every vector with its copy, got ${exact.size}")
    assert(blocked.subsetOf(exact)) // exact verification admits no false positives
    val recall = (exact intersect blocked).size.toDouble / exact.size
    assert(recall >= 0.95, s"LSH-blocked recall too low: $recall")
  }

  test("lshSizing: caller floors hold at small n, codes grow with corpus, recall bound holds") {
    // codes are log2(n)+8 bits so even small corpora hash to sparse
    // buckets; tables re-derived so the tau-pair miss bound holds
    assert(Dedup.lshSizing(1000L, 0.99, 8, 8) == (18, 13))
    // 40k vectors (sf1 staged corpus): codes keep pace with the corpus
    val (p1, t1) = Dedup.lshSizing(40000L, 0.99, 8, 8)
    assert(p1 == 24 && t1 >= 8, s"got ($p1, $t1)")
    // monotone: more vectors never shrink the code
    val (p2, t2) = Dedup.lshSizing(1000000L, 0.99, 8, 8)
    assert(p2 > p1 && t2 >= t1)
    // the advertised miss bound: (1 - p^planes)^tables <= 1e-3 at tau
    val pc = 1.0 - math.acos(0.99) / math.Pi
    assert(math.pow(1.0 - math.pow(pc, p2), t2) <= 1e-3)
    // tables cap: low tau at huge n cannot explode the explode factor
    val (_, tCap) = Dedup.lshSizing(1000000000L, 0.8, 8, 4)
    assert(tCap == 64)
  }

  test("semanticDedup: every doc classified, twins dropped within their cluster, keep-min-id") {
    val e = embs.select(col("vec_id"), col("embedding"), col("label"))
    val pert = e.select(
      (col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i === 0, x + lit(0.05f)).otherwise(x)).as("embedding"),
      col("label"))
    val u = e.unionByName(pert)
    val res = Dedup.semanticDedup(u, "vec_id", "embedding", "label",
      tau = 0.99, planes = 8, tables = 8)
    val rows = res.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = u.count()
    assert(rows.length == n, "one decision per input doc")
    val byId = rows.map(r => r._1 -> r).toMap
    // originals always survive (smallest id of each twin pair)
    val origs = rows.filter(_._1 < 100000L)
    assert(origs.forall(_._3 == 1L), "an original must never lose to its higher-id twin")
    // a twin assigned to the same cluster as its original must be dropped
    val sameClusterTwins = rows.filter { case (id, cl, _) =>
      id >= 100000L && byId.get(id - 100000L).exists(_._2 == cl)
    }
    assert(sameClusterTwins.nonEmpty, "staged twins should mostly co-cluster with originals")
    val dropRate = sameClusterTwins.count(_._3 == 0L).toDouble / sameClusterTwins.size
    assert(dropRate >= 0.99, s"same-cluster twins must be pruned, drop rate $dropRate")
    // decisions match the exact within-cluster definition (no LSH loss)
    val clusters = rows.map(r => r._1 -> r._2).toMap
    val exactPairs = Dedup.embeddingPairs(u, "vec_id", "embedding", tau = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => clusters(a) == clusters(b) }
    val exactDropped = exactPairs.map(_._2).toSet
    rows.foreach { case (id, _, kept) =>
      assert(kept == (if (exactDropped(id)) 0L else 1L), s"decision mismatch for $id")
    }
  }

  test("fuzzyMatch: edits resolve within maxDist; prefix-block recall tradeoff is real") {
    import spark.implicits._
    val clean = Seq("widget", "gadget", "gizmo").toDF("canon")
    val dirty = Seq(
      (1L, "widgett"), // insert at end -> widget, dist 1
      (2L, "gadet"),   // drop mid char -> gadget, dist 1
      (3L, "gizmo"),   // exact, dist 0
      (4L, "Xidget"),  // first-char edit: inside the block prefix -> MISSED by design
      (5L, "nonsense") // no match within 1
    ).toDF("id", "name")
    val got = graft.operators.Dedup
      .fuzzyMatch(dirty, "id", "name", clean, "canon", maxDist = 1, blockPrefix = 3)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, "widget", 1L), (2L, "gadget", 1L), (3L, "gizmo", 0L)))
    // the miss disappears with a complementary blocking pass (suffix):
    // production recall comes from unioning passes, each a keyed join
    val suffixPass = graft.operators.Dedup.fuzzyMatch(
      dirty.select(col("id"), reverse(col("name")).as("name")),
      "id", "name",
      clean.select(reverse(col("canon")).as("canon")), "canon",
      maxDist = 1, blockPrefix = 3)
      .collect().map(r => (r.getLong(0), r.getString(2).reverse))
    assert(suffixPass.exists(p => p._1 == 4L && p._2 == "widget"),
      "suffix-block pass must recover the first-char edit")
  }

  test("lsh topk is a subset of brute-force candidates with decent recall") {
    val queries = embs.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Similarity.lshTopK(embs, queries, "vec_id", "embedding", 5, planes = 4, tables = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(lsh.nonEmpty)
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.25, s"LSH recall too low: $recall") // 4 tables × 1/16 corpus scanned
  }

  test("fingerprint64: FNV-1a reference values, codegen and interpreted agree") {
    // reference FNV-1a 64 test vectors
    assert(Fingerprint64.hash("".getBytes("UTF-8")) == 0xcbf29ce484222325L)
    assert(Fingerprint64.hash("a".getBytes("UTF-8")) == 0xaf63dc4c8601ec8cL)
    val viaExpr = Seq("", "a", "hello graft").toDF("s")
      .select(fingerprint64(col("s"))).collect().map(_.getLong(0))
    val direct = Seq("", "a", "hello graft").map(s => Fingerprint64.hash(s.getBytes("UTF-8")))
    assert(viaExpr.toSeq == direct)
  }

  test("extensions register SQL functions: fingerprint64 / vec_dot / simhash64 / minhash_sig") {
    val fp = spark.sql("SELECT fingerprint64('a') AS fp").collect()(0).getLong(0)
    assert(fp == 0xaf63dc4c8601ec8cL)
    val d = spark.sql("SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .collect()(0).getDouble(0)
    assert(d == 11.0)
    assert(spark.sql("SELECT simhash64(array(CAST(5 AS BIGINT))) AS s").collect()(0).getLong(0) == 5L)
    assert(spark.sql("SELECT size(minhash_sig(array(CAST(5 AS BIGINT)), 8)) AS n").collect()(0).getInt(0) == 8)
  }

  test("approx sketches: HLL distinct and percentile within tolerance of exact") {
    val ev = Catalog.load(spark, sf, "events")
    val r = ev.agg(
      countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id"), 0.02).as("approx"),
      expr("approx_percentile(value, 0.5, 1000)").as("p50")
    ).collect()(0)
    val (exact, approx) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.1)
    assert(r.getDouble(2) > 0)
  }

  test("langid predicts only known languages or und") {
    val preds = docs.select(TextAnalysis.langId(col("text"))).distinct()
      .collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(TextAnalysis.Stopwords.keySet + "und"))
  }

  test("multimodal pipeline composes: binary -> REAL decode -> near-dup by feature") {
    // the shape of a real media-dedup pipeline: staged PNG payloads →
    // real javax.imageio decode → feature vector → cosine near-dup;
    // every Spark stage AND the byte interpretation are real
    val staged = Multimodal.encodeStagedPng(
      spark,
      docs.limit(50).select(col("doc_id"),
        (lit(8) + col("doc_id") % 9).as("w"), (lit(8) + col("doc_id") % 5).as("h")),
      "doc_id", "w", "h")
    val feats = Multimodal.decodeFeatures(spark, staged, "doc_id", "png")
      .toDF()
      .select(col("id").as("doc_id"),
        array(col("width").cast("float"), col("height").cast("float"), col("featureNorm").cast("float")).as("fv"))
    val pairs = Dedup.embeddingPairs(feats, "doc_id", "fv", tau = 0.999999)
    assert(pairs.count() >= 0) // executes the full composed plan
    val meta = Multimodal.binaryMeta(staged, "doc_id", "png")
    assert(meta.count() == 50)
  }

  test("parsePngMeta reads a REAL JDK-encoded PNG's IHDR, rejects non-PNG") {
    // encode genuine PNGs with javax.imageio (JDK built-in, no codec
    // dep) — proves the column-expression parser handles real files,
    // not just our own synthetic headers
    def realPng(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_ARGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, realPng(640, 480)),
      (2L, realPng(3, 1077)),
      (3L, "not a png at all".getBytes("UTF-8"))
    )
    val df = spark.createDataFrame(rows).toDF("doc_id", "payload")
    val out = Multimodal.parsePngMeta(df, "doc_id", "payload").collect()
    assert(out(0).getLong(1) == 1L && out(0).getLong(2) == 640L && out(0).getLong(3) == 480L)
    assert(out(0).getLong(4) == 8L) // ImageIO writes 8-bit depth
    assert(out(1).getLong(2) == 3L && out(1).getLong(3) == 1077L)
    assert(out(2).getLong(1) == 0L && out(2).isNullAt(2) && out(2).isNullAt(3))
    // synthetic header generator is byte-faithful: parses identically
    val syn = spark.range(1).select(lit(9L).as("doc_id"),
      Multimodal.pngHeaderBytes(lit(123L), lit(456L)).as("payload"))
    val sr = Multimodal.parsePngMeta(syn, "doc_id", "payload").collect()(0)
    assert(sr.getLong(1) == 1L && sr.getLong(2) == 123L && sr.getLong(3) == 456L &&
      sr.getLong(4) == 8L && sr.getLong(5) == 6L)
  }

  test("parseWavMeta reads a REAL JDK-encoded WAV's fmt chunk, rejects non-WAV") {
    // javax.sound.sampled is JDK built-in — genuine RIFF/WAVE bytes,
    // not our own synthetic headers
    def realWav(rate: Float, channels: Int): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, channels, true, false)
      val data = new Array[Byte](64 * fmt.getFrameSize)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, 64L)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, realWav(44100f, 2)),
      (2L, realWav(88200f, 1)), // rate > 65536: third LE byte in play
      (3L, "just some text".getBytes("UTF-8"))
    )
    val df = spark.createDataFrame(rows).toDF("doc_id", "payload")
    val out = Multimodal.parseWavMeta(df, "doc_id", "payload").collect()
    assert(out(0).getLong(1) == 1L && out(0).getLong(2) == 2L &&
      out(0).getLong(3) == 44100L && out(0).getLong(4) == 16L)
    assert(out(1).getLong(2) == 1L && out(1).getLong(3) == 88200L)
    assert(out(2).getLong(1) == 0L && out(2).isNullAt(2) && out(2).isNullAt(3))
    // synthetic header generator parses identically
    val syn = spark.range(1).select(lit(9L).as("doc_id"),
      Multimodal.wavHeaderBytes(lit(2L), lit(96000L), lit(24L)).as("payload"))
    val sr = Multimodal.parseWavMeta(syn, "doc_id", "payload").collect()(0)
    assert(sr.getLong(1) == 1L && sr.getLong(2) == 2L &&
      sr.getLong(3) == 96000L && sr.getLong(4) == 24L)
  }

  test("parseJpegMeta walks a REAL JDK-encoded JPEG's markers to SOF0, rejects non-JPEG") {
    def realJpeg(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    // T.81 allows any number of 0xFF fill bytes before a marker, and
    // standalone length-less markers (TEM) — some real encoders emit
    // both; inject each right after SOI
    def inject(jpeg: Array[Byte], extra: Array[Byte]): Array[Byte] =
      jpeg.take(2) ++ extra ++ jpeg.drop(2)
    val rows = Seq(
      (1L, realJpeg(640, 480)),
      (2L, realJpeg(3, 1077)),
      (3L, "not a jpeg".getBytes("UTF-8")),
      (4L, realJpeg(16, 16).take(4)), // truncated mid-walk: desync, not crash
      (5L, Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47)), // PNG magic
      (6L, inject(realJpeg(40, 30), Array(0xFF.toByte, 0xFF.toByte))), // fill bytes
      (7L, inject(realJpeg(41, 31), Array(0xFF.toByte, 0x01.toByte)))  // TEM marker
    )
    val df = spark.createDataFrame(rows).toDF("doc_id", "payload")
    val out = Multimodal.parseJpegMeta(df, "doc_id", "payload").collect()
    assert(out(0).getLong(1) == 1L && out(0).getLong(2) == 640L && out(0).getLong(3) == 480L &&
      out(0).getLong(4) == 3L, out(0).toString)
    assert(out(1).getLong(2) == 3L && out(1).getLong(3) == 1077L)
    assert(out(2).getLong(1) == 0L && out(2).isNullAt(2))
    assert(out(3).getLong(1) == 0L && out(3).isNullAt(2), "truncated payload must parse as not-jpeg")
    assert(out(4).getLong(1) == 0L)
    assert(out(5).getLong(1) == 1L && out(5).getLong(2) == 40L && out(5).getLong(3) == 30L,
      s"FF fill bytes before a marker must not desync the walk: ${out(5)}")
    assert(out(6).getLong(1) == 1L && out(6).getLong(2) == 41L && out(6).getLong(3) == 31L,
      s"standalone TEM marker must hop 2 bytes, not read a length: ${out(6)}")
    // staged-encoder round trip at the query's dims
    val staged = Multimodal.encodeStagedJpeg(spark,
      spark.range(4, 7).select(col("id").as("doc_id"),
        (lit(8) + col("id") % 32).as("w"), (lit(8) + col("id") % 24).as("h")),
      "doc_id", "w", "h")
    val sr = Multimodal.parseJpegMeta(staged.select(col("doc_id"), col("jpeg")), "doc_id", "jpeg").collect()
    sr.zip(4L until 7L).foreach { case (r, id) =>
      assert(r.getLong(1) == 1L && r.getLong(2) == 8 + id % 32 && r.getLong(3) == 8 + id % 24, r.toString)
    }
  }

  test("parseGifMeta: real JDK-encoded GIF89a dims parsed; non-GIF rejected") {
    val staged = Multimodal.encodeStagedGif(spark,
      spark.range(1, 4).select(col("id").as("doc_id"),
        (lit(8) + col("id") * 100).as("w"), (lit(8) + col("id") * 77).as("h")),
      "doc_id", "w", "h").select(col("doc_id"), col("gif").as("payload"))
    val junk = spark.range(9, 11)
      .select(col("id").as("doc_id"), lit("GIF-ish but not").cast("binary").as("payload"))
    val out = Multimodal.parseGifMeta(staged.unionByName(junk), "doc_id", "payload").collect()
    (0 until 3).foreach { i =>
      val id = i + 1
      assert(out(i).getLong(1) == 1L && out(i).getLong(2) == 8 + id * 100 &&
        out(i).getLong(3) == 8 + id * 77, out(i).toString)
    }
    assert(out(3).getLong(1) == 0L && out(3).isNullAt(2), "non-GIF bytes must report is_gif=0")
    // the magic check is byte-exact: "GIF" prefix alone isn't enough
    assert(out(4).getLong(1) == 0L)
  }

  test("parseWebpMeta: all three variants decode (incl 14-bit boundary dims); sync/signature gates hold; junk rejected") {
    import spark.implicits._
    val built = spark.range(0, 9).select(col("id").as("doc_id"),
      Multimodal.webpBytes(col("id") % 3,
        // ids 0..5: small dims; ids 6..8: the 14-bit boundary 16383
        when(col("id") < 6, lit(17L) + col("id")).otherwise(lit(16383L)),
        when(col("id") < 6, lit(9L) + col("id")).otherwise(lit(16383L))).as("payload"))
    val out = Multimodal.parseWebpMeta(built, "doc_id", "payload").collect()
    out.zipWithIndex.foreach { case (r, i) =>
      val (w, h) = if (i < 6) (17L + i, 9L + i) else (16383L, 16383L)
      val v = Seq("VP8", "VP8L", "VP8X")(i % 3)
      assert(r.getLong(1) == 1L && r.getString(2) == v && r.getLong(3) == w && r.getLong(4) == h,
        s"variant $v dims ($w,$h): $r")
    }
    // gates: a VP8 chunk whose sync code is wrong yields NULL dims but is
    // still a WebP container; RIFF without WEBP, and plain text, reject
    val badSync = spark.range(20, 21).select(col("id").as("doc_id"),
      unhex(concat(lit("52494646"), lit("16000000"), lit("57454250"),
        lit("56503820"), lit("0A000000"), lit("000000"), lit("FFFFFF"),
        lit("1100"), lit("0900"))).as("payload"))
    val nonWebp = Seq(
      (21L, "RIFFxxxxWAVE not webp".getBytes("UTF-8")),
      (22L, "just text".getBytes("UTF-8"))
    ).toDF("doc_id", "payload")
    val o2 = Multimodal.parseWebpMeta(badSync.unionByName(nonWebp), "doc_id", "payload").collect()
    assert(o2(0).getLong(1) == 1L && o2(0).getString(2) == "VP8" && o2(0).isNullAt(3), o2(0).toString)
    assert(o2(1).getLong(1) == 0L && o2(1).isNullAt(2))
    assert(o2(2).getLong(1) == 0L)
  }

  test("parseTiffMeta: JDK big-endian TIFF IFD walked; hand-built little-endian file too; junk rejected") {
    import spark.implicits._
    val staged = Multimodal.encodeStagedTiff(spark,
      spark.range(1, 4).select(col("id").as("doc_id"),
        (lit(8) + col("id") * 9).as("w"), (lit(8) + col("id") * 5).as("h")),
      "doc_id", "w", "h").select(col("doc_id"), col("tiff").as("payload"))
    // hand-built "II" (little-endian) TIFF: IFD at 8, two entries —
    // tag 256 SHORT 300, tag 257 LONG 200
    val le: Array[Byte] = (Seq(0x49, 0x49, 0x2A, 0x00, 0x08, 0x00, 0x00, 0x00) ++
      Seq(0x02, 0x00) ++
      Seq(0x00, 0x01, 0x03, 0x00, 0x01, 0x00, 0x00, 0x00, 0x2C, 0x01, 0x00, 0x00) ++
      Seq(0x01, 0x01, 0x04, 0x00, 0x01, 0x00, 0x00, 0x00, 0xC8, 0x00, 0x00, 0x00) ++
      Seq(0x00, 0x00, 0x00, 0x00)).map(_.toByte).toArray
    val extra = Seq((7L, le), (9L, "not a tiff at all".getBytes)).toDF("doc_id", "payload")
    val out = Multimodal.parseTiffMeta(staged.unionByName(extra), "doc_id", "payload").collect()
    (0 until 3).foreach { i =>
      val id = i + 1
      assert(out(i).getLong(1) == 1L && out(i).getString(2) == "MM" &&
        out(i).getLong(3) == 8 + id * 9 && out(i).getLong(4) == 8 + id * 5, out(i).toString)
    }
    assert(out(3).getLong(1) == 1L && out(3).getString(2) == "II" &&
      out(3).getLong(3) == 300L && out(3).getLong(4) == 200L, out(3).toString)
    assert(out(4).getLong(1) == 0L && out(4).isNullAt(2) && out(4).isNullAt(3), out(4).toString)
  }

  test("decodeFeatures: REAL round-trip — staged pattern's closed-form mean luminance recovered") {
    val staged = Multimodal.encodeStagedPng(
      spark,
      docs.limit(20).select(col("doc_id"),
        (lit(8) + col("doc_id") % 9).as("w"), (lit(8) + col("doc_id") % 5).as("h")),
      "doc_id", "w", "h")
    val feats = Multimodal.decodeFeatures(spark, staged, "doc_id", "png").collect().sortBy(_.id)
    assert(feats.length == 20)
    feats.foreach { m =>
      val id = m.id; val w = m.width; val h = m.height
      assert(w == 8 + (id % 9) && h == 8 + (id % 5)) // real dims decoded
      // closed-form channel sums of the staged pattern (see encodeStagedPng)
      val sumR = w.toLong * (h.toLong * (id % 200) + h.toLong * (h - 1) / 2)
      val sumG = h.toLong * (w.toLong * (id % 100) + w.toLong * (w - 1) / 2)
      val sumB = h.toLong * w.toLong * (w - 1) / 2 + w.toLong * h.toLong * (h - 1) / 2
      val expected = (sumR + sumG + sumB).toDouble / (3.0 * 255.0 * w * h)
      assert(math.abs(m.featureNorm - expected) < 1e-12,
        s"doc $id: decoded luminance ${m.featureNorm} != closed form $expected")
    }
    // non-decodable payloads are dropped, not failed
    val junk = docs.limit(5).withColumn("payload", col("text").cast("binary"))
    assert(Multimodal.decodeFeatures(spark, junk, "doc_id", "payload").count() == 0)
  }

  test("decodeColorHist: REAL round-trip — sparse cube cells match the closed-form pixel field") {
    val staged = Multimodal.encodeStagedPng(
      spark,
      docs.limit(10).select(col("doc_id"), lit(8).as("w"), lit(8).as("h")),
      "doc_id", "w", "h")
    val got = Multimodal.decodeColorHist(spark, staged, "doc_id", "png", bits = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val expected = (0L until 10L).flatMap { id =>
      val cells = for (y <- 0 until 8; x <- 0 until 8) yield {
        val (r, g, b) = ((id % 200).toInt + y, (id % 100).toInt + x, x + y)
        (((r >> 6) * 4 + (g >> 6)) * 4 + (b >> 6)).toLong
      }
      cells.groupBy(identity).map { case (c, xs) => ((id, c), xs.size.toLong) }
    }.toMap
    assert(got == expected, s"got ${got.size} cells, expected ${expected.size}")
  }

  test("staged encoders: payload bytes pinned by MD5 for fixed (id, w, h) rows") {
    // the bytes behind the mm_* parse and decode oracles, as the JDK 17
    // ImageIO writers produce them
    val dims = Seq((1L, 4, 4), (7L, 8, 8), (42L, 16, 8), (1234L, 5, 3)).toDF("id", "w", "h")
    def md5s(staged: org.apache.spark.sql.DataFrame, c: String): Seq[String] =
      staged.orderBy("id").select(md5(col(c))).as[String].collect().toSeq
    assert(md5s(Multimodal.encodeStagedPng(spark, dims, "id", "w", "h"), "png") == Seq(
      "90bc89e8921bd08d64c34aa466c6e06c", "8b8b0b05ce7263764a3316c0093a78d6",
      "b7bd56bd1d2df8ab722f5fb61af4de2c", "b3086f0a6d35b2c4bc037f6efc1d52a7"))
    assert(md5s(Multimodal.encodeStagedPngStripes(spark, dims, "id", "w", "h"), "png") == Seq(
      "afab90f71680807c75bb2f9874d5338b", "9bf3421401c3ae0de27e4fbca523742f",
      "9a01185ebfb6ef8191770ec9f2f15452", "090fd4afdb9f1277d867bdedd7477130"))
    assert(md5s(Multimodal.encodeStagedJpeg(spark, dims, "id", "w", "h"), "jpeg") == Seq(
      "ef07bd7c54ca526614f563e262b5f4af", "e412b1d36d4dc8673333d8d32cb17343",
      "7be480edcbc19a1c05b0c0cde5b8c19d", "e421367558d6838863c4c84a519f8d05"))
    assert(md5s(Multimodal.encodeStagedGif(spark, dims, "id", "w", "h"), "gif") == Seq(
      "237c3c0ac9e6d632f8e204f4878a7458", "a4bdf45cf8c485910cec6f835716b251",
      "3a269894ebb5a4e97947942ee0062a71", "d6b9af47e05a246d5570137297dd308a"))
    assert(md5s(Multimodal.encodeStagedTiff(spark, dims, "id", "w", "h"), "tiff") == Seq(
      "c4044cbaa1e30887e88322462b5955c8", "6a424d5f4caa2071b6fd01151b22672e",
      "5d1e1ed53921affc90edcc9b885ca0b9", "7555ab1f6c5dba2912a30b833b3d6c68"))
  }

  test("ivf topk: probe-limited search with reasonable recall vs brute force") {
    val queries = embs.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.ivfTopK(embs, queries, "vec_id", "embedding", 5, nClusters = 8, nProbes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivf.nonEmpty)
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.4, s"IVF recall too low: $recall") // 4 of 8 cells probed
  }

  test("ivf join-path cell assignment is identical to the literal path") {
    // the two assignment strategies (inlined centroid literals vs
    // broadcast centroid join) must agree bit-for-bit: same fitted
    // centers forced through both code paths
    val queries = embs.filter(col("vec_id") < 10)
    val centers = Similarity.fitCentroids(embs, "embedding", 8)
    def run(joinAssign: Boolean) =
      Similarity.ivfSearch(embs, queries, centers, "vec_id", "embedding", 5, 4, joinAssign)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val literal = run(joinAssign = false)
    assert(literal.nonEmpty && literal == run(joinAssign = true))
  }

  test("every IVF consumer agrees on the literal and join assignment paths") {
    // the SQ8 build and the IVF-PQ residual build and probe take the
    // join path only above literalCentroidMax cells: force both paths
    // through the package-private stages over one set of centers
    import Similarity.Quantizer
    val queries = embs.filter(col("vec_id") < 10)
    val centers = Similarity.fitCentroids(embs, "embedding", 8)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    def tmp(prefix: String): String = java.nio.file.Files.createTempDirectory(prefix).toString
    def samePaths(what: String)(f: Quantizer => Seq[String]): Unit = {
      val literal = f(Quantizer(centers, joinAssign = false))
      val joined = f(Quantizer(centers, joinAssign = true))
      assert(literal.nonEmpty, what)
      val same = joined == literal
      assert(same, s"$what: first literal-path row the join path lacks: ${literal.diff(joined).headOption}")
    }
    samePaths("cells")(q => rows(Similarity.assignCells(embs, q, "vec_id", "embedding")))
    samePaths("probed cells")(q => rows(Similarity.probeCells(queries, q, "vec_id", "embedding", 4)))
    samePaths("SQ8 cells and top-k") { q =>
      val dir = tmp("graft_sq8_paths")
      Similarity.buildIvf(spark, embs, q, "vec_id", "embedding", dir, Similarity.sq8Cells)
      rows(spark.read.parquet(s"$dir/cells")) ++
        rows(Similarity.ivfTopKIndexedSq8(spark, dir, q, queries, "vec_id", "embedding", 5, 4))
    }
    samePaths("IVF-PQ codes and top-k") { q =>
      val dir = tmp("graft_ivfpq_paths")
      Similarity.buildIvfPqIndex(spark, embs, "vec_id", "embedding", 64, q, dir, 8, 64)
      rows(spark.read.parquet(s"$dir/cells")) ++
        rows(Similarity.ivfPqTopK(spark, dir, q, queries, "vec_id", "embedding", 5, 4))
    }
  }

  test("persisted IVF index returns the same results as the in-memory path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.buildIvfIndex(spark, embs, "vec_id", "embedding", nClusters = 8, dir)
    // on-disk layout: one directory per cell (probe IO bounded by cells)
    val cellDirs = new java.io.File(s"$dir/cells").listFiles().filter(_.getName.startsWith("cell="))
    assert(cellDirs.length > 1)
    val queries = embs.filter(col("vec_id") < 10)
    val fresh = Similarity.ivfTopK(embs, queries, "vec_id", "embedding", 5, nClusters = 8, nProbes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val indexed = Similarity.ivfTopKIndexed(spark, dir, queries, "vec_id", "embedding", 5, nProbes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(indexed == fresh)
  }

  test("shingle-hash kernel: window count, short-doc fallback, distinctness") {
    import graft.operators.Dedup.shingleHashSet
    val df = Seq(
      ("a b c d e", 3), // 3 shingles
      ("a b", 3),       // shorter than n → one whole-doc shingle
      ("a b c a b c", 3) // repeated trigram → duplicate hashes pre-distinct
    ).toDF("text", "n")
    val r = df.select(size(shingleHashSet(col("text"), 3)).as("m"),
      size(array_distinct(shingleHashSet(col("text"), 3))).as("d")).collect()
    assert(r(0).getInt(0) == 3 && r(0).getInt(1) == 3)
    assert(r(1).getInt(0) == 1)
    assert(r(2).getInt(0) == 4 && r(2).getInt(1) == 3) // "a b c","b c a","c a b","a b c"
  }

  test("sorted_intersect_count equals array_intersect size") {
    import graft.functions.VecOps.sorted_intersect_count
    val df = Seq((Seq(1L, 3L, 5L, 7L), Seq(2L, 3L, 5L, 9L))).toDF("a", "b")
    val r = df.select(
      sorted_intersect_count(col("a"), col("b")).as("k"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("e")
    ).collect()(0)
    assert(r.getLong(0) == 2 && r.getLong(0) == r.getLong(1))
  }

  test("max_word_rep kernel matches the HOF formulation on the corpus") {
    import graft.functions.VecOps.max_word_rep
    val w = split(Dedup.normalize(col("text")), " ")
    val mismatches = docs.select(
      max_word_rep(w).as("native"),
      array_max(transform(array_distinct(w), x => size(filter(w, y => y === x))))
        .cast("long").as("hof")
    ).filter(col("native") =!= col("hof"))
    assert(mismatches.count() == 0)
    // SQL registration + edge cases
    val sql = spark.sql(
      "SELECT max_word_rep(array('a','b','a','a')) AS r, max_word_rep(CAST(array() AS array<string>)) AS z, max_word_rep(array('x')) AS o"
    ).collect()(0)
    assert(sql.getLong(0) == 3L && sql.getLong(1) == 0L && sql.getLong(2) == 1L)
  }

  test("rep_stats kernel matches the HOF formulation on the corpus") {
    import graft.functions.VecOps.rep_stats
    val w = split(Dedup.normalize(col("text")), " ")
    val bigrams = zip_with(
      slice(w, lit(1), size(w) - 1),
      slice(w, lit(2), size(w) - 1),
      (a, b) => concat_ws(" ", a, b)
    )
    val mismatches = docs.select(
      rep_stats(w).as("rs"),
      size(w).cast("long").as("n"),
      array_max(transform(array_distinct(w), x => size(filter(w, y => y === x)))).cast("long").as("topw"),
      (size(w) - size(array_distinct(w))).cast("long").as("ndup"),
      when(size(w) >= 2,
        array_max(transform(array_distinct(bigrams), x => size(filter(bigrams, y => y === x)))).cast("long")
      ).otherwise(0L).as("topb")
    ).filter(
      col("rs").getItem(0) =!= col("n") || col("rs").getItem(1) =!= col("topw") ||
        col("rs").getItem(2) =!= col("ndup") || col("rs").getItem(3) =!= col("topb")
    )
    assert(mismatches.count() == 0)
    // SQL registration + edge cases: empty array, single word, all-same
    val sql = spark.sql(
      "SELECT rep_stats(CAST(array() AS array<string>)) AS z, rep_stats(array('x')) AS o, rep_stats(array('a','a','a')) AS s"
    ).collect()(0)
    assert(sql.getSeq[Long](0) == Seq(0L, 0L, 0L, 0L))
    assert(sql.getSeq[Long](1) == Seq(1L, 1L, 0L, 0L))
    assert(sql.getSeq[Long](2) == Seq(3L, 3L, 2L, 2L))
  }

  test("native vec_dot is bit-identical to the HOF formulation") {
    val pairs = embs.alias("a").crossJoin(embs.limit(3).alias("b"))
      .select(
        Similarity.dot(col("a.embedding"), col("b.embedding")).as("native"),
        Similarity.dotHof(col("a.embedding"), col("b.embedding")).as("hof")
      )
      .filter(col("native") =!= col("hof"))
    assert(pairs.count() == 0)
  }

  test("topk aggregator keeps k best with deterministic tiebreak") {
    val agg = new operators.TopKAggregator(3)
    val items = Seq((0.5, 1L), (0.9, 2L), (0.9, 1L), (0.1, 9L), (0.7, 4L))
      .map { case (s, i) => operators.ScoredId(s, i) }
    val out = agg.finish(items.foldLeft(agg.zero)(agg.reduce))
    assert(out.map(_.id) == Seq(1L, 2L, 4L))
  }

  test("topk aggregator: any insertion order and merge split yields the same sorted top-k") {
    val rnd = new scala.util.Random(42)
    val agg = new operators.TopKAggregator(5)
    val items = Seq.fill(200)(operators.ScoredId(rnd.nextInt(20) / 10.0, rnd.nextInt(50).toLong))
    val expected = items.sortBy(s => (-s.score, s.id)).take(5)
    for (trial <- 1 to 10) {
      val shuffled = rnd.shuffle(items)
      val (l, r) = shuffled.splitAt(rnd.nextInt(items.length))
      val merged = agg.finish(agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce)))
      assert(merged == expected, s"trial $trial")
    }
  }

  test("nearestCentroid: tight clusters classified perfectly, centroid frame broadcast") {
    import spark.implicits._
    import graft.operators.Similarity
    // two well-separated clusters; vec 5 is labeled 1 but sits in cluster 0
    val rows = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(1.1f, 0.1f), 0), (2L, Array(0.9f, -0.1f), 0),
      (3L, Array(-1.0f, 5.0f), 1), (4L, Array(-1.1f, 4.9f), 1), (5L, Array(1.0f, 0.05f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.nearestCentroid(rows, "vec_id", "embedding", "label")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // centroid 1 is dragged by outlier 5, but all cluster-0-located
    // points (incl. 5) are still nearer centroid 0
    assert(got.map(_._3) == Seq(0L, 0L, 0L, 1L, 1L, 0L))
    assert(got.map(_._2) == Seq(0L, 0L, 0L, 1L, 1L, 1L))
    val plan = Similarity.nearestCentroid(rows, "vec_id", "embedding", "label")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan.take(1500))
  }

  test("containmentPairs finds doc-contains-doc that Jaccard misses; prefix x full join is lossless") {
    import spark.implicits._
    // core: 40 words; wrapper = core + 80 words of boilerplate.
    // containment(core, wrapper) = 100%; jaccard ~ 38/118 ~ 32%.
    val core = (1 to 40).map(i => s"core$i").mkString(" ")
    val boiler = (1 to 80).map(i => s"nav$i").mkString(" ")
    val rows = Seq(
      (1L, core),
      (2L, s"$core $boiler"),
      (3L, (1 to 60).map(i => s"other$i").mkString(" ")),
      (4L, (1 to 60).map(i => s"other$i").mkString(" ")) // exact dup of 3
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(rows, "doc_id", "text", n = 3, tauPct = 90)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(cont.map(t => (t._1, t._2)).toSet == Set((1L, 2L), (3L, 4L)),
      s"expected the contained pair and the exact dup, got $cont")
    assert(cont.forall(_._3 >= 90))
    // Jaccard at a comparable threshold structurally cannot see (1,2)
    val jacc = Dedup.ngramJaccardPairs(rows, "doc_id", "text", n = 3, tauPct = 80)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jacc == Set((3L, 4L)), s"jaccard should only find the exact dup, got $jacc")
    // lossless vs brute force on the corpus sample: every qualifying
    // pair survives the prefix x full candidate join
    val docs200 = docs.limit(200)
    val got = Dedup.containmentPairs(docs200, "doc_id", "text", n = 3, tauPct = 70)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = docs200.select(col("doc_id"),
      array_sort(array_distinct(Dedup.shingleHashSet(col("text"), 3))).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val brute = (for {
      (a, sa) <- sh.toSeq; (b, sb) <- sh.toSeq if a < b
      i = (sa intersect sb).size
      if i * 100 >= math.min(sa.size, sb.size) * 70
    } yield (a, b)).toSet
    assert(got == brute, s"containment join must be lossless: missing ${brute -- got}, extra ${got -- brute}")
  }

  test("connectedComponents labels a path graph and honors a custom id column") {
    // path 1-2-3-4-5 plus isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(comps(_) == 1L) && comps(10L) == 10L && comps(11L) == 10L)
    // both strategies — driver union-find (default at this size) and
    // distributed label propagation (forced) — must agree exactly
    val dist = Dedup.connectedComponents(pairs, driverMaxEdges = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == comps)
    val docs = (1L to 12L).toDF("vid")
    val assigned = Dedup.clusterAssign(docs, "vid", pairs)
    assert(assigned.columns.toSeq == Seq("vid", "cluster_id", "is_kept"))
    val kept = assigned.filter(col("is_kept") === 1L).select("vid")
      .collect().map(_.getLong(0)).toSet
    // survivors: component minima 1 and 10, plus every isolated doc
    assert(kept == Set(1L, 6L, 7L, 8L, 9L, 10L, 12L))
  }

  test("connectedComponents throws on non-convergence instead of returning wrong labels") {
    // a 64-node path needs ~log2(64) pointer-jump rounds plus one
    // confirmation round; maxIters=1 must fail loudly, never silently
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException](
      Dedup.connectedComponents(chain, maxIters = 1, driverMaxEdges = 0L).collect())
    assert(e.getMessage.contains("did not converge"))
    // ...and enough iterations converge to a single component
    val ok = Dedup.connectedComponents(chain, maxIters = 20, driverMaxEdges = 0L)
    assert(ok.select(countDistinct(col("cluster_id"))).collect()(0).getLong(0) == 1L)
  }

  test("connectedComponents short-circuits on an empty pair set") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val t0 = System.nanoTime()
    assert(Dedup.connectedComponents(empty).count() == 0L)
    // empty input must not spin maxIters join rounds (~60 jobs)
    assert((System.nanoTime() - t0) / 1e9 < 30.0)
  }

  test("hash index: probe flags exact copies, update folds the batch in") {
    val corpus = docs.filter(col("doc_id") < 40)
    val idx = Dedup.buildHashIndex(corpus, "doc_id", "text")
    // batch: 2 exact copies of corpus docs (re-idded) + 2 fresh docs
    val batch = corpus.filter(col("doc_id").isin(3L, 7L))
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id").isin(45L, 46L)).select(col("doc_id"), col("text")))
    val probed = Dedup.exactAgainstIndex(batch, "doc_id", "text", idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(probed == Seq((45L, 0L, -1L), (46L, 0L, -1L), (1003L, 1L, 3L), (1007L, 1L, 7L)))
    // after folding the batch in, the same probe is all-dup, and the
    // ORIGINAL corpus ids stay canonical (min never churns)
    val idx2 = Dedup.updateHashIndex(idx, batch, "doc_id", "text")
    val again = Dedup.exactAgainstIndex(batch, "doc_id", "text", idx2)
    assert(again.filter(col("is_dup") === 0L).count() == 0L)
    assert(again.filter(col("doc_id") === 1003L).select("dup_of").collect()(0).getLong(0) == 3L)
    // index growth == number of distinct new texts
    assert(idx2.count() == idx.count() + 2)
  }

  test("hash index algebra: update is idempotent, first-seen canonical id never churns") {
    val corpus = Seq((10L, "a a"), (11L, "b"), (12L, "a  a")).toDF("doc_id", "text")
    val idx0 = Dedup.buildHashIndex(corpus, "doc_id", "text")
    // 10 and 12 normalize to the same content -> 2 index entries, min id kept
    assert(idx0.orderBy("kept_id").collect().map(_.getLong(1)).toSeq == Seq(10L, 11L))
    // late batch with a SMALLER id for known content + one new text:
    // the known hash keeps canonical id 10 (first seen), never 5
    val batch = Seq((5L, "A  a"), (20L, "c")).toDF("doc_id", "text")
    val idx1 = Dedup.updateHashIndex(idx0, batch, "doc_id", "text")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Array[Byte]](0).toSeq -> r.getLong(1)).toMap
    val m1 = asMap(idx1)
    assert(m1.values.toSet == Set(10L, 11L, 20L), s"canonical churned: $m1")
    // idempotent: folding the same batch again changes nothing
    assert(asMap(Dedup.updateHashIndex(idx1, batch, "doc_id", "text")) == m1)
    // and the probe agrees with the updated state
    val probe = Dedup.exactAgainstIndex(batch, "doc_id", "text", idx1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(probe == Seq((5L, 1L, 10L), (20L, 1L, 20L)))
  }

  test("winnow index: probe-after-append equals rebuild; replayed batch folds in idempotently") {
    import graft.operators.TextAnalysis
    val corpusA = docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") < 200)
    val batchB = docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") >= 200 && col("doc_id") < 300)
    val probeC = docs.filter(col("doc_id") % 10 === 0 && col("doc_id") < 300)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val idxA = TextAnalysis.buildWinnowIndex(corpusA, "doc_id", "text")
    val appended = TextAnalysis.updateWinnowIndex(idxA, batchB, "doc_id", "text")
    val rebuilt = TextAnalysis.buildWinnowIndex(corpusA.unionByName(batchB), "doc_id", "text")
    val viaAppend = asSet(TextAnalysis.winnowAgainstIndex(probeC, "doc_id", "text", appended))
    val viaRebuild = asSet(TextAnalysis.winnowAgainstIndex(probeC, "doc_id", "text", rebuilt))
    assert(viaAppend == viaRebuild, s"append drifted from rebuild: ${viaAppend.diff(viaRebuild)} / ${viaRebuild.diff(viaAppend)}")
    assert(viaAppend.nonEmpty, "probe found no overlaps — the fixture stopped exercising the join")
    // at-least-once delivery: replaying the SAME batch adds nothing
    val replayed = TextAnalysis.updateWinnowIndex(appended, batchB, "doc_id", "text")
    assert(replayed.count() == appended.count(), "replayed batch doubled posting lists")
  }

  test("embedding index probe: persisted index round-trips to identical pairs") {
    val e = embs.select(col("vec_id"), col("embedding"))
    val live = Dedup.buildEmbeddingIndex(e, "vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_embidx").toString + "/idx"
    live.write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val batch = e.filter(col("vec_id") < 20).select(
      (col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), (x, i) => when(i === 0, x + lit(0.05f)).otherwise(x)).as("embedding"))
    def pairs(idx: org.apache.spark.sql.DataFrame) =
      Dedup.embeddingNearDupsAgainstIndex(batch, "vec_id", "embedding", idx, tau = 0.99)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val a = pairs(live)
    assert(a == pairs(stored), "parquet round-trip must not change the probe result")
    // every staged near copy finds exactly its base
    assert(a == (0L until 20L).map(i => (i + 100000L, i)))
  }

  test("mergeClusters == full recompute over the combined pair set") {
    val basePairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val baseIds = (1L to 12L).toDF("vid")
    val assignment = Dedup.clusterAssign(baseIds, "vid", basePairs)
    // batch: bridges two existing components AND introduces doc 100
    val newPairs = Seq((3L, 10L), (5L, 100L)).toDF("id_a", "id_b")
    val merged = Dedup.mergeClusters(assignment, "vid", newPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val full = Dedup.clusterAssign(
      baseIds.unionByName(Seq(100L).toDF("vid")), "vid",
      basePairs.unionByName(newPairs))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(merged == full, s"merged=$merged full=$full")
    // the bridge really merged: 1-2-3-10-11 is one component rooted at 1
    assert(merged.find(_._1 == 11L).get._2 == 1L)
    assert(merged.find(_._1 == 100L).get._2 == 5L && merged.find(_._1 == 100L).get._3 == 0L)
  }

  test("index probes degrade cleanly: empty batch and empty index") {
    val empty = docs.filter(lit(false)).select(col("doc_id"), col("text"))
    val idx = Dedup.buildHashIndex(docs.limit(10), "doc_id", "text")
    assert(Dedup.exactAgainstIndex(empty, "doc_id", "text", idx).count() == 0L)
    val emptyIdx = Dedup.buildHashIndex(empty, "doc_id", "text")
    val allNew = Dedup.exactAgainstIndex(docs.limit(5), "doc_id", "text", emptyIdx)
    assert(allNew.count() == 5L && allNew.filter(col("is_dup") =!= 0L).count() == 0L)
    assert(Dedup.nearDupsAgainstIndex(empty, "doc_id", "text",
      Dedup.buildMinhashIndex(docs.limit(10), "doc_id", "text")).count() == 0L)
  }

  test("IVF index append: frozen centroids, new vectors searchable without rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString + "/idx"
    val base = embs.filter(col("vec_id") < 40).select(col("vec_id"), col("embedding"))
    val late = embs.filter(col("vec_id") >= 40 && col("vec_id") < 50)
      .select(col("vec_id"), col("embedding"))
    Similarity.buildIvfIndex(spark, base, "vec_id", "embedding", nClusters = 4, dir)
    // probe: a near-copy of a LATE vector (not yet indexed)
    val probe = late.limit(1).select(
      (col("vec_id") + 900000L).as("vec_id"),
      transform(col("embedding"), (x, i) => when(i === 0, x + lit(0.01f)).otherwise(x)).as("embedding"))
    val targetId = late.limit(1).collect()(0).getLong(0)
    def top1(): Long =
      Similarity.ivfTopKIndexed(spark, dir, probe, "vec_id", "embedding", k = 1, nProbes = 4)
        .collect()(0).getLong(2)
    assert(top1() != targetId, "target must not be findable before the append")
    Similarity.appendToIvfIndex(spark, late, "vec_id", "embedding", dir)
    assert(top1() == targetId, "after the append the probe's twin is rank-1")
    // centroid file untouched: geometry frozen across the append
    assert(spark.read.parquet(s"$dir/centroids").count() == 4)
  }

  test("minhash index probe == cross-subset of the full-corpus LSH pairs") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val idx = Dedup.buildMinhashIndex(corpus, "doc_id", "text")
    val probed = Dedup.nearDupsAgainstIndex(batch, "doc_id", "text", idx)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: full-corpus LSH pairs restricted to batch x corpus
    // (full run emits id_a < id_b; the probe emits batch-side first)
    val full = Dedup.minhashLshPairs(docs, "doc_id", "text", tauPct = 80)
      .select("id_a", "id_b").collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .filter { case (a, b) => a % 10 == 0 && b % 10 != 0 }
      .toSet
    assert(probed == full)
    assert(probed.nonEmpty, "cross-split near-dups should exist in the test corpus")
  }

  test("bigramLmScore: hand-computed conditionals, tf-weighted mean, rare share; <2-word docs drop") {
    val d = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "solo")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLmScore(d, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // cb: "a b"=3, "b a"=1, "b c"=1; head counts: a->3, b->2
    // cond ppm: "a b"=1000000, "b a"=500000, "b c"=500000
    assert(got.toSeq == Seq(
      (1L, 3L, 833333L, 3333L), // (2*1e6 + 1*5e5) DIV 3; rare: "b a" (cb<=2), 1 of 3
      (2L, 2L, 750000L, 5000L))) // rare: "b c", 1 of 2; doc 3 has no bigrams
  }

  test("lmIndex: batch scores from the persisted counts; novel text reports 0; append == rebuild") {
    val corpus = Seq((1L, "a b c"), (2L, "a b")).toDF("doc_id", "text")
    val batch = Seq((100L, "a b x"), (101L, "z q"), (102L, "b c")).toDF("doc_id", "text")
    val idx = TextAnalysis.buildLmIndex(corpus, "text")
    val got = TextAnalysis.scoreAgainstLmIndex(idx, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // index: "a b" cb=2 (ch(a)=2), "b c" cb=1 (ch(b)=1)
    // 100: "a b" covered (2e6/2=1e6), "b x" not -> covered 1/2, mean over covered 1e6
    // 101: fully novel -> 0, 0;  102: "b c" covered -> 1e6
    assert(got.toSeq == Seq(
      (100L, 2L, 5000L, 1000000L),
      (101L, 1L, 0L, 0L),
      (102L, 1L, 10000L, 1000000L)), got.mkString(","))
    // append == rebuild, row for row
    val appended = TextAnalysis.updateLmIndex(idx, batch, "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rebuilt = TextAnalysis.buildLmIndex(corpus.unionByName(batch), "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(appended == rebuilt, s"append drifted from rebuild: ${appended.size} vs ${rebuilt.size}")
  }

  test("tokenDrift: share deltas exact; movers ordered by absolute delta with term tiebreak") {
    val d = Seq((0L, "x x y"), (2L, "x z"), (1L, "y y"), (3L, "x y z")).toDF("doc_id", "text")
    val got = TextAnalysis.tokenDrift(d, "doc_id", "text", col("doc_id") % 2, topK = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // A (even ids): x3 y1 z1 of 5; B (odd): x1 y3 z1 of 5
    // deltas: x -400000, y +400000, z 0 -> top-2 is x then y (term tiebreak)
    assert(got.toSeq == Seq(
      ("x", 3L, 1L, 600000L, 200000L, -400000L),
      ("y", 1L, 3L, 200000L, 600000L, 400000L)), got.mkString(","))
  }

  /** The engine's green rule, replayed in plain Scala over the same
    * FNV-1a kernel — the spec-side twin of watermarkScore's PRF.
    */
  private def wmGreen(key: String, prev: String, cur: String): Boolean =
    (Fingerprint64.hash(s"$key\u0001$prev\u0001$cur".getBytes("UTF-8")) & 3L) == 0L

  private def wmReplay(key: String, docs: Seq[(Long, String)]): Seq[(Long, Long, Long, Long, Long, Long)] =
    docs.flatMap { case (id, t) =>
      val w = t.trim.toLowerCase.split("\\s+").toSeq
      val n = (w.length - 1).toLong
      if (n <= 0L) None
      else {
        val g = w.sliding(2).count(p => wmGreen(key, p.head, p(1))).toLong
        val flag = if (4 * g > n && (4 * g - n) * (4 * g - n) > 48L * n) 1L else 0L
        Some((id, n, g, 10000 * g / n, 10000 * g / n - 2500, flag))
      }
    }.sortBy(_._1)

  test("watermarkScore: keyed FNV PRF matches a per-bigram Scala replay; zero-bigram docs dropped") {
    val docs = Seq(
      (1L, "a b c d e f g"),
      (2L, "aa bbb aa bbb"),
      (3L, "a b cc"),
      (4L, "solo") // no bigrams: dropped
    )
    val got = TextAnalysis.watermarkScore(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == wmReplay("graft", docs), got.mkString(","))
  }

  test("watermarkScore: PRF-matched green-oversampled text flags at z>4; round-robin text stays clean") {
    // A generator that KNOWS the key: at each step, scan the vocab
    // from a rotating offset and emit the first GREEN continuation of
    // the previous token (exactly Kirchenbauer's hard green-list
    // sampling); every 10th step emits the first RED one so the text
    // isn't degenerate. gamma=1/4 makes a green continuation exist in
    // any 40-word vocab with overwhelming margin; the require() guards
    // the staging assumption.
    val key = "graft"
    val vocab = (0 until 40).map(i => s"w$i")
    val steps = 300
    val wmTokens = scala.collection.mutable.ArrayBuffer("w0")
    for (j <- 1 to steps) {
      val prev = wmTokens.last
      val wantGreen = j % 10 != 0
      val rot = Iterator.range(0, vocab.size).map(k => vocab((j * 7 + k) % vocab.size))
      val pick = rot.find(c => wmGreen(key, prev, c) == wantGreen)
      require(pick.isDefined, s"no ${if (wantGreen) "green" else "red"} continuation of $prev")
      wmTokens += pick.get
    }
    // clean text: same vocab, stride-7 round-robin — token choice
    // never consults the PRF, so green incidence sits near gamma=1/4
    val cleanTokens = (0 to steps).map(j => vocab(j * 7 % vocab.size))
    val d = Seq((1L, wmTokens.mkString(" ")), (2L, cleanTokens.mkString(" "))).toDF("doc_id", "text")
    val got = TextAnalysis.watermarkScore(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(5))).sortBy(_._1)
    val Seq((_, wmBp, wmFlag), (_, clBp, clFlag)) = got.toSeq
    assert(wmFlag == 1L, s"watermarked text not flagged: green_bp=$wmBp")
    assert(wmBp >= 8500L, s"generator should oversample green hard: $wmBp")
    assert(clFlag == 0L, s"clean text falsely flagged: green_bp=$clBp")
    // and the engine agrees with the replay on both staged docs
    assert(
      TextAnalysis.watermarkScore(d, "doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
        == wmReplay(key, Seq((1L, wmTokens.mkString(" ")), (2L, cleanTokens.mkString(" ")))))
  }

  /** Spec-side replay of the greedy longest-match walk — independent
    * code path (linear vocab scan vs the kernel's trie), same pinned
    * semantics: codepoint cursor, longest entry wins, 1-cp fallback.
    */
  private def bpeReplay(text: String): (Long, Long, Long) = {
    val words = text.trim.toLowerCase.replaceAll("\\s+", " ").split(" ", -1).toSeq
    var tokens = 0L
    var fb = 0L
    words.foreach { w =>
      var i = 0
      while (i < w.length) {
        val m = TextAnalysis.BpeVocab
          .filter(v => w.regionMatches(i, v, 0, v.length))
          .map(_.length).maxOption.getOrElse(0)
        if (m > 0) { tokens += 1; i += m }
        else { tokens += 1; fb += 1; i += Character.charCount(w.codePointAt(i)) }
      }
    }
    (words.length.toLong, tokens, fb)
  }

  private def bpeStats(docs: Seq[(Long, String)]): Seq[(Long, Long, Long, Long)] =
    TextAnalysis.bpeTokenStats(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  test("bpeTokenStats: trie kernel matches an independent linear-scan replay; greedy is pinned") {
    val docs = Seq(
      (1L, "The quick brown fox jumps over the lazy dog"),
      (2L, "them through information"),
      (3L, "internationalization considerations THEREFORE"),
      (4L, ""))
    val got = bpeStats(docs)
    val exp = docs.map { case (id, t) => val (w, n, f) = bpeReplay(t); (id, w, n, f) }
    assert(got == exp, got.mkString(","))
    // greedy pinned: "them" -> "the"+"m" (2 tokens, 1 fallback cp),
    // never the 2-token no-fallback "th"+"em" an optimal split finds
    assert(bpeStats(Seq((9L, "them"))) == Seq((9L, 1L, 2L, 1L)))
  }

  test("bpeTokenStats: word-concat stability and codepoint fallback on multi-byte text") {
    val a = "the rationalization"
    val b = "per formation"
    val Seq((_, wa, na, fa)) = bpeStats(Seq((1L, a)))
    val Seq((_, wb, nb, fbb)) = bpeStats(Seq((2L, b)))
    val Seq((_, wc, nc, fc)) = bpeStats(Seq((3L, s"$a $b")))
    // tokenization is per-word, so joining docs with a space adds counts
    assert((wc, nc, fc) == (wa + wb, na + nb, fa + fbb), s"($wc,$nc,$fc)")
    // multi-byte: é / 你 / an astral emoji are ONE fallback code point
    // each (the kernel advances by code points, like DuckDB substr)
    val got = bpeStats(Seq((5L, "héllo 你好 🙂 naïve")))
    val exp = Seq((5L, bpeReplay("héllo 你好 🙂 naïve")._1,
      bpeReplay("héllo 你好 🙂 naïve")._2, bpeReplay("héllo 你好 🙂 naïve")._3))
    assert(got == exp, got.mkString(","))
    assert(got.head._2 == 4L, s"words: ${got.head}")
  }

  test("knBigramScore: hand-computed discount + continuation terms; per-head mass ~ 1e6") {
    val d = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "solo")).toDF("doc_id", "text")
    val got = TextAnalysis.knBigramScore(d, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // cb: ab=2, ac=1; ch(a)=3, n1h(a)=2; n1c(b)=n1c(c)=1; B=2 distinct bigrams
    // lam(a) = 3*2*1e6 DIV 12 = 500000; cont(b)=cont(c) = 1e6 DIV 2 = 500000
    // p(ab) = (8-3)*1e6 DIV 12 + 250000 = 666666; p(ac) = 83333 + 250000 = 333333
    assert(got.toSeq == Seq(
      (1L, 1L, 666666L, 500000L),
      (2L, 1L, 666666L, 500000L),
      (3L, 1L, 333333L, 500000L)), got.mkString(","))
    // KN is a proper conditional up to DIV truncation: head a's mass
    // over its observed tails = 666666 + 333333 = 999999 ~ 1e6
  }

  test("ccnetBuckets: per-domain exact-rank thirds, value-based cuts put ties in one bucket") {
    // domain d1: six docs with distinct LM scores -> clean 2/2/2 split.
    // Repetitive bigrams score high ("a b a b..." is all "a b"/"b a"),
    // unique-word chains score low; we assert the ORDER-derived split,
    // not hand-computed ppm values (bigramLmScore's own spec covers those).
    val d1 = Seq(
      (1L, "d1", "a b a b a b a b a b"),  // highest fluency
      (2L, "d1", "a b a b a b a b q"),
      (3L, "d1", "a b a b a b r s"),
      (4L, "d1", "a b a b t u v w"),
      (5L, "d1", "a b x y z p q r"),
      (6L, "d1", "m n o p q r s t")       // all-rare chain, lowest
    )
    // domain d2: twin docs 12/13 TIE at the t67 threshold value (833333,
    // identical text) -> value-based cut puts BOTH in middle (neither is
    // STRICTLY above the t67 they themselves define) and no doc is head;
    // doc 11 sits at t33 = 800000 -> tail
    val d2 = Seq(
      (11L, "d2", "c d c d c d"),
      (12L, "d2", "c d e f"), (13L, "d2", "c d e f"))
    val df = (d1 ++ d2).toDF("doc_id", "source", "text")
    val got = TextAnalysis.ccnetBuckets(df, "doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    val byId = got.map(t => t._1 -> t._4).toMap
    val d1Scores = got.filter(_._2 == "d1").sortBy(-_._3).map(_._1)
    assert(d1Scores.take(2).forall(byId(_) == "head") &&
      d1Scores.slice(2, 4).forall(byId(_) == "middle") &&
      d1Scores.drop(4).forall(byId(_) == "tail"), got.mkString(","))
    assert(byId(11L) == "tail" && byId(12L) == "middle" && byId(13L) == "middle",
      s"tied scores share a bucket, threshold docs are not above themselves: ${got.filter(_._2 == "d2").mkString(",")}")
  }

  test("domainQualityReport: corpus-global dup attribution, short share, exact integer stats") {
    import graft.operators.Curation
    val d = Seq(
      (1L, "d1", "hello world"),
      (2L, "d1", "Hello   WORLD"), // dup of 1 after whitespace normalize
      (3L, "d2", "hello world"),   // CROSS-domain dup of 1 — still counted for d2
      (4L, "d2", "x" * 300),
      (5L, "d2", "short")
    ).toDF("doc_id", "source", "text")
    val got = Curation.domainQualityReport(d, "doc_id", "source", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      ("d1", 2L, 24L, 12L, 10000L, 5000L),
      ("d2", 3L, 316L, 105L, 6666L, 3333L)))
  }

  test("parseMp4Meta: builder round-trip; v1 mvhd 64-bit duration behind free/largesize boxes; junk") {
    val built = spark.range(1, 6).select(col("id").as("doc_id"),
      Multimodal.mp4Bytes(lit(600L) + col("id") * 600L, col("id") * 1000L, lit(1L) + col("id") % 3)
        .as("payload"))
    val out = Multimodal.parseMp4Meta(built, "doc_id", "payload").collect()
    out.zipWithIndex.foreach { case (r, i) =>
      val id = i + 1L
      assert(r.getLong(1) == 1L && r.getString(2) == "isom" &&
        r.getLong(3) == 600 + id * 600 && r.getLong(4) == id * 1000 &&
        r.getLong(5) == 1 + id % 3, r.toString)
    }
    // hand-built: minimal ftyp("mp42") + free box + LARGESIZE free box +
    // moov[mvhd v1 (64-bit times; duration 2^32+104 exercises the u64
    // read) + 2 trak stubs]
    def be32(v: Long) = Seq((v >> 24) & 0xff, (v >> 16) & 0xff, (v >> 8) & 0xff, v & 0xff)
    def be64(v: Long) = be32(v >>> 32) ++ be32(v & 0xffffffffL)
    def fourcc(s: String) = s.getBytes("US-ASCII").map(_.toLong & 0xff).toSeq
    val dur = (1L << 32) + 104L
    val mvhd = be32(120) ++ fourcc("mvhd") ++ Seq(1L, 0L, 0L, 0L) ++ be64(0) ++ be64(0) ++
      be32(90000) ++ be64(dur) ++ Seq.fill(80)(0L)
    val moov = be32(8 + 120 + 16) ++ fourcc("moov") ++ mvhd ++
      be32(8) ++ fourcc("trak") ++ be32(8) ++ fourcc("trak")
    val v1 = (be32(16) ++ fourcc("ftyp") ++ fourcc("mp42") ++ be32(0) ++
      be32(8) ++ fourcc("free") ++
      be32(1) ++ fourcc("free") ++ be64(16) ++
      moov).map(_.toByte).toArray
    // ftyp-only prefix: container recognized, moov fields all NULL
    val ftypOnly = (be32(16) ++ fourcc("ftyp") ++ fourcc("isom") ++ be32(0)).map(_.toByte).toArray
    // moov ITSELF using the size==1 largesize escape: 16-byte header,
    // so the child scan must start at moov+16, not moov+8 (a +8 scan
    // would misread the largesize field as the first child box)
    val mvhdV0 = be32(108) ++ fourcc("mvhd") ++ Seq(0L, 0L, 0L, 0L) ++ be32(0) ++ be32(0) ++
      be32(48000) ++ be32(7777) ++ Seq.fill(80)(0L)
    val moovLarge = be32(1) ++ fourcc("moov") ++ be64(16 + 108 + 8) ++
      mvhdV0 ++ be32(8) ++ fourcc("trak")
    val vLarge = (be32(16) ++ fourcc("ftyp") ++ fourcc("mp42") ++ be32(0) ++ moovLarge)
      .map(_.toByte).toArray
    val extra = Seq((100L, v1), (101L, "definitely not an mp4".getBytes), (102L, ftypOnly),
      (103L, vLarge))
      .toDF("doc_id", "payload")
    val o2 = Multimodal.parseMp4Meta(extra, "doc_id", "payload").collect()
    assert(o2(0).getLong(1) == 1L && o2(0).getString(2) == "mp42" &&
      o2(0).getLong(3) == 90000L && o2(0).getLong(4) == dur && o2(0).getLong(5) == 2L, o2(0).toString)
    assert(o2(1).getLong(1) == 0L && o2(1).isNullAt(2) && o2(1).isNullAt(3) && o2(1).isNullAt(5), o2(1).toString)
    assert(o2(2).getLong(1) == 1L && o2(2).getString(2) == "isom" &&
      o2(2).isNullAt(3) && o2(2).isNullAt(4) && o2(2).isNullAt(5), o2(2).toString)
    assert(o2(3).getLong(1) == 1L && o2(3).getString(2) == "mp42" &&
      o2(3).getLong(3) == 48000L && o2(3).getLong(4) == 7777L && o2(3).getLong(5) == 1L, o2(3).toString)
  }

  test("parseWavPcmStats: closed-form moments recovered; truncated data folds what's present; junk rejected") {
    def sample(seed: Long, i: Long): Long = {
      val m = (seed * 31 + i * 7) % 65536
      if (m >= 32768) m - 65536 else m
    }
    def expect(seed: Long, n: Long): (Long, Long, Long) = {
      val ss = (0L until n).map(sample(seed, _))
      (ss.sum, ss.map(s => s * s).sum, ss.map(math.abs).max)
    }
    val built = spark.range(1, 4).select(col("id").as("doc_id"),
      Multimodal.wavPcmBytes(col("id") * 1100L, lit(5L) + col("id")).as("payload"))
    val out = Multimodal.parseWavPcmStats(built, "doc_id", "payload").collect()
    out.zipWithIndex.foreach { case (r, i) =>
      val id = i + 1L
      val (s, sq, mx) = expect(id * 1100L, 5L + id)
      assert(r.getLong(1) == 1L && r.getLong(2) == 5 + id &&
        r.getLong(3) == s && r.getLong(4) == sq && r.getLong(5) == mx, r.toString)
    }
    // seed 35000 makes early samples negative: sum_s < 0 must survive
    // the sentinel decode (fields gate on is_pcm16, not on -1)
    val neg = Seq((9L, 35000L)).toDF("doc_id", "seed")
      .select(col("doc_id"), Multimodal.wavPcmBytes(col("seed"), lit(3L)).as("payload"))
    val rn = Multimodal.parseWavPcmStats(neg, "doc_id", "payload").collect()(0)
    val (s9, sq9, mx9) = expect(35000L, 3L)
    assert(s9 < 0 && rn.getLong(3) == s9 && rn.getLong(4) == sq9 && rn.getLong(5) == mx9, rn.toString)
    // truncated payload: declared 8 samples, 3 bytes cut -> 6 decodable
    val full = neg.select(col("doc_id"),
      Multimodal.wavPcmBytes(lit(35000L), lit(8L)).as("p"))
      .select(col("doc_id"), expr("substring(p, 1, length(p) - 3)").as("payload"))
    val rt = Multimodal.parseWavPcmStats(full, "doc_id", "payload").collect()(0)
    assert(rt.getLong(1) == 1L && rt.getLong(2) == 6L, rt.toString)
    // maxSamples bounds the walk
    val capped = Multimodal.parseWavPcmStats(
      neg, "doc_id", "payload", maxSamples = 2).collect()(0)
    assert(capped.getLong(2) == 2L, capped.toString)
    // junk
    val junk = Seq((11L, "not audio at all".getBytes)).toDF("doc_id", "payload")
    val rj = Multimodal.parseWavPcmStats(junk, "doc_id", "payload").collect()(0)
    assert(rj.getLong(1) == 0L && rj.isNullAt(2) && rj.isNullAt(3), rj.toString)
  }

  test("parseExifMeta: builder round-trip; hand-built little-endian twin; APP0-first layout; no-APP1 JPEG") {
    val built = spark.range(1, 5).select(col("id").as("doc_id"),
      Multimodal.exifJpegBytes(lit(1L) + col("id") % 8, lit(100L) + col("id"), lit(200L) + col("id"))
        .as("payload"))
    val out = Multimodal.parseExifMeta(built, "doc_id", "payload").collect()
    out.zipWithIndex.foreach { case (r, i) =>
      val id = i + 1L
      assert(r.getLong(1) == 1L && r.getString(2) == "MM" && r.getLong(3) == 1 + id % 8 &&
        r.getLong(4) == 100 + id && r.getLong(5) == 200 + id, r.toString)
    }
    // hand-built LITTLE-endian EXIF (orientation 6, 320x240), with a
    // JFIF APP0 segment BEFORE the APP1 (the common camera layout)
    def b(xs: Int*): Seq[Int] = xs
    val app0 = b(0xFF, 0xE0, 0x00, 0x10) ++ "JFIF".getBytes.map(_.toInt & 0xff) ++ Seq.fill(10)(0)
    val tiffLe = b(0x49, 0x49, 0x2A, 0x00, 0x08, 0x00, 0x00, 0x00, 0x03, 0x00) ++
      b(0x00, 0x01, 0x03, 0x00, 0x01, 0x00, 0x00, 0x00, 0x40, 0x01, 0x00, 0x00) ++ // 256 = 320
      b(0x01, 0x01, 0x03, 0x00, 0x01, 0x00, 0x00, 0x00, 0xF0, 0x00, 0x00, 0x00) ++ // 257 = 240
      b(0x12, 0x01, 0x03, 0x00, 0x01, 0x00, 0x00, 0x00, 0x06, 0x00, 0x00, 0x00) ++ // 274 = 6
      b(0x00, 0x00, 0x00, 0x00)
    val app1 = b(0xFF, 0xE1) ++ b((tiffLe.length + 8) >> 8, (tiffLe.length + 8) & 0xff) ++
      "Exif".getBytes.map(_.toInt & 0xff) ++ b(0, 0) ++ tiffLe
    val le = (b(0xFF, 0xD8) ++ app0 ++ app1 ++ b(0xFF, 0xD9)).map(_.toByte).toArray
    // JDK JPEG: APP0/DQT/SOF chain, never an APP1 -> has_exif 0
    val plain = Multimodal.encodeStagedJpeg(spark,
      Seq((50L, 8, 8)).toDF("doc_id", "w", "h"), "doc_id", "w", "h")
      .select(col("doc_id"), col("jpeg").as("payload"))
    // an XMP APP1 BEFORE the Exif APP1 (many camera/editor pipelines
    // emit this order): the marker walk must skip the non-Exif APP1 by
    // its length and still find the Exif segment behind it
    val xmpBody = "http://ns.adobe.com/xap/1.0/ <x:xmpmeta/>".getBytes("US-ASCII")
      .map(_.toInt & 0xff).toSeq
    val xmpApp1 = b(0xFF, 0xE1) ++ b((xmpBody.length + 2) >> 8, (xmpBody.length + 2) & 0xff) ++ xmpBody
    val xmpThenExif = (b(0xFF, 0xD8) ++ xmpApp1 ++ app1 ++ b(0xFF, 0xD9)).map(_.toByte).toArray
    val extra = Seq((60L, le), (61L, "not a jpeg".getBytes), (62L, xmpThenExif))
      .toDF("doc_id", "payload")
      .unionByName(plain)
    val o2 = Multimodal.parseExifMeta(extra, "doc_id", "payload").collect()
    assert(o2(0).getLong(1) == 0L && o2(0).isNullAt(3), o2(0).toString) // id 50: no APP1
    assert(o2(1).getLong(1) == 1L && o2(1).getString(2) == "II" && o2(1).getLong(3) == 6L &&
      o2(1).getLong(4) == 320L && o2(1).getLong(5) == 240L, o2(1).toString)
    assert(o2(2).getLong(1) == 0L && o2(2).isNullAt(2), o2(2).toString)
    assert(o2(3).getLong(1) == 1L && o2(3).getString(2) == "II" && o2(3).getLong(3) == 6L &&
      o2(3).getLong(4) == 320L && o2(3).getLong(5) == 240L, o2(3).toString)
  }

  test("imageAHash: hand-computed stripe hash; byte-identical images collide; brightness shift is invariant") {
    // stripes pattern, pk = 7: w = 8 (bw 1), phase = (x*3 + y*2) % 4
    def gray(x: Int, y: Int): Long =
      (if ((x * 3 + y * 2) % 4 < 2) 200L else 20L) + x * 3 + y * 5
    val tot = (for (y <- 0 until 8; x <- 0 until 8) yield gray(x, y)).sum
    val expected = (0 until 8).map { y =>
      val rb = (0 until 8).map(x => if (gray(x, y) * 64 > tot) 1L << x else 0L).sum
      f"$rb%02x"
    }.mkString
    val staged = Multimodal.encodeStagedPngStripes(spark,
      Seq((7L, 8, 8), (22L, 8, 8)).toDF("pk", "w", "h"), "pk", "w", "h")
      .select(col("pk").as("doc_id"), col("png"))
    val got = Multimodal.imageAHash(spark, staged, "doc_id", "png")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(7L) == expected, s"${got(7L)} != $expected")
    assert(got(22L) == expected, "22 == 7 mod lcm(5,3): same stripe pattern must collide")
    // brightness invariance: the GRADIENT pattern differs only by a
    // constant channel offset between ids 3 and 103 (same 8x8 geometry)
    val grad = Multimodal.encodeStagedPng(spark,
      Seq((3L, 8, 8), (103L, 8, 8)).toDF("pk", "w", "h"), "pk", "w", "h")
      .select(col("pk").as("doc_id"), col("png"))
    val gh = Multimodal.imageAHash(spark, grad, "doc_id", "png")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(gh(3L) == gh(103L), "aHash must be invariant to a constant brightness shift")
  }

  test("phash index: probe-after-append equals rebuild; replay idempotent; cross-key perceptual dup") {
    val pats = spark.range(0, 40).select(col("id").as("pk"),
      (lit(8) + (col("id") % 2) * 8).cast("int").as("w"), lit(8).as("h"))
    val pngs = Multimodal.encodeStagedPngStripes(spark, pats, "pk", "w", "h")
      .select(col("pk"), col("png")).cache()
    def imgs(ids: Seq[Long]) = ids.toDF("doc_id")
      .select(col("doc_id"), (col("doc_id") % 40).as("pk"))
      .join(pngs, "pk").select(col("doc_id"), col("png"))
    val corpusA = imgs(Seq(1L, 2L, 3L, 30L))
    val batchB = imgs(Seq(41L, 5L, 90L)) // pk 1 (known), pk 5 + pk 10 (new)
    // pk 0 probes as a CROSS-KEY dup: stripe geometry repeats mod 30,
    // so pk 0 renders pixel-identical to corpus pk 30
    val probeC = imgs(Seq(81L, 45L, 100L, 40L)) // pks 1, 5, 20, 0
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val idxA = Multimodal.buildPhashIndex(spark, corpusA, "doc_id", "png")
    val appended = Multimodal.updatePhashIndex(idxA, spark, batchB, "doc_id", "png")
    val rebuilt = Multimodal.buildPhashIndex(spark, corpusA.unionByName(batchB), "doc_id", "png")
    val viaAppend = asSet(Multimodal.phashAgainstIndex(spark, probeC, "doc_id", "png", appended))
    assert(viaAppend == asSet(Multimodal.phashAgainstIndex(spark, probeC, "doc_id", "png", rebuilt)))
    assert(viaAppend == Set(
      (81L, 1L, 1L),   // pk 1: first-seen corpus id, not batch id 41
      (45L, 1L, 5L),   // pk 5: visible only after the append
      (100L, 0L, -1L), // pk 20: genuinely new
      (40L, 1L, 30L)), // pk 0 == pk 30 visually
      viaAppend.toString)
    // at-least-once delivery: replaying the SAME batch adds nothing
    val replayed = Multimodal.updatePhashIndex(appended, spark, batchB, "doc_id", "png")
    assert(replayed.count() == appended.count(), "replayed batch duplicated index keys")
    pngs.unpersist()
  }

  test("dimTruncateRecall: prefix-dim ranking diverges from full-dim where the tail carries the signal") {
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),    // query
      (2L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, Array(0.5f, 0f, 2f, 0f)),  // tail-heavy: trunc cos 1.0, full cos 0.24
      (4L, Array(0.8f, 0.05f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.dimTruncateRecall(
      vecs, vecs.filter(col("vec_id") === 1), "vec_id", "embedding", k = 2, dims = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // full top2 = {4 (.998), 2 (.994)}; trunc top2 = {3 (1.0), 4} -> overlap {4}
    assert(got.toSeq == Seq((1L, 1L, 5000L)))
  }

  test("rangeSearch: exact cosine threshold pairs, self-match excluded") {
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 1f)), (3L, Array(2f, 0f)), (4L, Array(0f, 1f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.rangeSearch(vecs, vecs.filter(col("vec_id") === 1), "vec_id", "embedding", tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // cos(1,3) = 1 >= 0.9; cos(1,2) ~ 0.707, cos(1,4) = 0; id 1 itself excluded
    assert(got.toSeq == Seq((1L, 3L)))
  }
}
