package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.{Bloom, VecOps}
import graft.operators.{Curation, Dedup, EmbedOps}
import graft.sources.Catalog

class EmbedOpsSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Catalog.load(spark, sf, "documents")
  lazy val embs = Catalog.load(spark, sf, "embeddings")

  test("iterPartitions: the scan's file index gives the width the per-file status sum gave") {
    val par = spark.sparkContext.defaultParallelism
    assume(par >= 3, s"a middle width needs defaultParallelism >= 3, got $par")
    val conf = spark.sparkContext.hadoopConfiguration
    def statusWidth(df: org.apache.spark.sql.DataFrame): Int = {
      val bytes = df.inputFiles.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(conf).getFileStatus(p).getLen
      }.sum
      math.max(1L, math.min(par.toLong, bytes / (2L << 20) + 1L)).toInt
    }
    val dir = java.nio.file.Files.createTempDirectory("iter_partitions").toFile
    val rnd = new scala.util.Random(9)
    // incompressible payloads in 3 files: ~24 KB, ~3.5 MB, and 2 MB·par + 1 MB
    for ((rows, rowBytes, width) <- Seq((6, 4 << 10, 1), (14, 256 << 10, 2), (8 * par + 4, 256 << 10, par))) {
      val path = s"$dir/w$width"
      Seq.fill(rows)(Array.fill(rowBytes)(rnd.nextInt().toByte)).toDF("payload")
        .repartition(3).write.parquet(path)
      val df = spark.read.parquet(path).filter(length(col("payload")) > 0)
      assert(df.inputFiles.length == 3)
      assert(EmbedOps.iterPartitions(df) == statusWidth(df), s"$rows rows of $rowBytes bytes")
      assert(EmbedOps.iterPartitions(df) == width, s"$rows rows of $rowBytes bytes")
    }
    assert(EmbedOps.iterPartitions(spark.range(10).toDF()) == par, "a non-file frame keeps defaultParallelism")
  }

  test("table-carrying kernels: equal tables give semantically equal expressions and matching canonical plans") {
    val rnd = new scala.util.Random(3)
    val cb = Array.fill(2 * 4 * 3)(rnd.nextFloat())
    val cents = Array.fill(3 * 6)(rnd.nextLong() % 1000L)
    val fv = Seq(Array.fill(6)(rnd.nextFloat())).toDF("v")
    val lv = Seq(Array.fill(6)(rnd.nextLong() % 1000L)).toDF("v")
    // each call builds its expression from a fresh copy of the table
    val kernels: Seq[(org.apache.spark.sql.DataFrame, () => Column)] = Seq(
      fv -> (() => VecOps.pq_encode(col("v"), cb.clone(), 2, 4, 3)),
      fv -> (() => VecOps.pq_query_table(col("v"), cb.clone(), 2, 4, 3)),
      lv -> (() => VecOps.nearest_centroid_ll(col("v"), cents.clone(), 6)),
      lv -> (() => VecOps.dot_centered_div(col("v"), cents.take(6), cents.takeRight(6))))
    for ((df, kernel) <- kernels) {
      val (a, b) = (df.select(kernel().as("k")).queryExecution, df.select(kernel().as("k")).queryExecution)
      val (ea, eb) = (a.analyzed.expressions.head.children.head, b.analyzed.expressions.head.children.head)
      assert(ea.semanticEquals(eb), s"$ea vs $eb")
      assert(a.analyzed.canonicalized == b.analyzed.canonicalized, s"${a.analyzed} vs ${b.analyzed}")
    }
    // the kernels still read their tables
    val v = fv.head().getSeq[Float](0).toArray
    assert(fv.select(VecOps.pq_encode(col("v"), cb, 2, 4, 3)).head().getLong(0) ==
      VecOps.pqEncode(org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v), cb, 2, 4, 3))
    val lvec = lv.head().getSeq[Long](0).toArray
    assert(lv.select(VecOps.nearest_centroid_ll(col("v"), cents, 6)).head().getSeq[Long](0) ==
      VecOps.nearestCentroidLL(org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(lvec), cents, 6)
        .toLongArray().toSeq)
  }

  test("roundHalfUp: bit-identical to BigDecimal HALF_UP across the hot range") {
    def ref(v: Double): Long =
      java.math.BigDecimal.valueOf(v).setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    // the documented Math.round trap + exact halves both signs + zero
    val edges = Seq(0.49999999999999994, -0.49999999999999994, 0.5, -0.5, 1.5, -1.5,
      2.5, -2.5, 0.0, -0.0, 126.5, -126.5, 1e12 + 0.5, -(1e12 + 0.5))
    edges.foreach(v => assert(VecOps.roundHalfUp(v) == ref(v), s"edge $v"))
    // every half point and its ulp neighbors across the quantize range
    (-256 to 256).foreach { k =>
      val h = k + 0.5
      Seq(h, Math.nextUp(h), Math.nextDown(h)).foreach { v =>
        assert(VecOps.roundHalfUp(v) == ref(v), s"near-half $v")
      }
    }
    val rnd = new scala.util.Random(42)
    (1 to 200000).foreach { _ =>
      val v = (rnd.nextDouble() - 0.5) * 254.0 // quantize range [-127,127]
      assert(VecOps.roundHalfUp(v) == ref(v), s"mismatch at $v")
    }
    (1 to 50000).foreach { _ =>
      val v = (rnd.nextDouble() - 0.5) * 2e9 // randProject micro-unit range
      assert(VecOps.roundHalfUp(v) == ref(v), s"mismatch at $v")
    }
  }

  // ---- bloom filter ----

  test("bloom: zero false negatives, bounded false positives") {
    val keys = (1L to 2000L).toDF("k")
    val bloom = Bloom.build(keys, "k", expectedKeys = 2000L, fpp = 0.01)
    val present = keys.select(Bloom.bloom_might_contain(lit(bloom), col("k")).as("hit"))
      .filter(!col("hit")).count()
    assert(present == 0, "bloom reported a present key absent (false negative)")
    val absentHits = (100001L to 110000L).toDF("k")
      .select(Bloom.bloom_might_contain(lit(bloom), col("k")).as("hit"))
      .filter(col("hit")).count()
    assert(absentHits < 500, s"fp rate way above configured 1%: $absentHits/10000")
  }

  test("bloom-pruned incremental dedup: identical answer, fewer join candidates") {
    val d = docs.select(col("doc_id"), col("text"))
    val corpus = d.filter(col("doc_id") % 10 =!= 0)
    val batch = d.filter(col("doc_id") % 10 === 0)
      .unionByName(corpus.filter(col("doc_id") % 17 === 3)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val index = Dedup.buildHashIndex(corpus, "doc_id", "text")
    val plain = Dedup.exactAgainstIndex(batch, "doc_id", "text", index).collect().toSeq
    val bloomed = Dedup.exactAgainstIndexBloom(batch, "doc_id", "text", index, expectedKeys = 1000L)
      .collect().toSeq
    assert(plain == bloomed, "bloom path must be byte-identical to the exact path")
    assert(plain.exists(_.getLong(1) == 1L), "staged corpus copies should be flagged dup")
    // pruning: only true dups (+fp slack) pass the bitmap
    val bloom = Bloom.build(index.select(xxhash64(col("h")).as("k")), "k", 1000L, 0.01)
    val cand = batch.select(Bloom.bloom_might_contain(
      lit(bloom), xxhash64(Dedup.contentHash(col("text")))).as("c")).filter(col("c")).count()
    val dups = plain.count(_.getLong(1) == 1L)
    val total = batch.count()
    assert(cand < total, s"bloom should prune some of the $total batch rows, kept $cand")
    assert(cand >= dups, "candidates must cover every true dup")
  }

  test("bloom/CMS on an EMPTY corpus: everything is new, every estimate is zero") {
    val empty = spark.range(0).select(col("id").as("k"))
    val bloom = Bloom.build(empty, "k", expectedKeys = 10L)
    val hits = (1L to 100L).toDF("k")
      .select(Bloom.bloom_might_contain(lit(bloom), col("k")).as("h")).filter(col("h")).count()
    assert(hits == 0, "empty-corpus bloom must reject every probe")
    val cms = graft.functions.CountMin.build(empty, "k", depth = 4, width = 64)
    val est = (1L to 10L).toDF("k")
      .select(graft.functions.CountMin.cms_estimate(lit(cms), col("k")).as("e"))
      .agg(max(col("e"))).collect()(0).getLong(0)
    assert(est == 0L, "empty-corpus CMS must estimate zero everywhere")
  }

  // ---- int8 quantization ----

  test("quantize_i8: |q| <= 127, max component hits 127, zero vector -> zeros") {
    val q = EmbedOps.quantizeLong(embs, "vec_id", "embedding")
    val bad = q.filter(abs(col("q")) > 127).count()
    assert(bad == 0)
    // per-vector max |q| is exactly 127 for any non-zero vector
    val offPeak = q.groupBy("vec_id").agg(max(abs(col("q"))).as("m")).filter(col("m") =!= 127).count()
    assert(offPeak == 0, "symmetric quantization must saturate the top component")
    val zeroVec = Seq((1L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding")
    val zq = EmbedOps.quantizeLong(zeroVec, "vec_id", "embedding").select("q")
      .collect().map(_.getLong(0)).toSeq
    assert(zq == Seq(0L, 0L, 0L))
  }

  test("quantized top-k matches a driver-side integer recomputation exactly") {
    val data = embs.select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def quant(v: Array[Float]): Array[Int] = {
      val amax = v.map(x => math.abs(x.toDouble)).max
      if (amax == 0.0) new Array[Int](v.length)
      else v.map(x => java.math.BigDecimal.valueOf(x.toDouble * 127.0 / amax)
        .setScale(0, java.math.RoundingMode.HALF_UP).intValue())
    }
    val qd = data.map { case (id, v) => (id, quant(v)) }
    val expected = qd.filter(_._1 < 10).flatMap { case (qid, qv) =>
      qd.filter(_._1 != qid)
        .map { case (cid, cv) => (cid, qv.zip(cv).map { case (a, b) => a.toLong * b }.sum) }
        .sortBy { case (cid, dot) => (-dot, cid) }
        .take(5).zipWithIndex
        .map { case ((cid, dot), i) => (qid, i + 1L, cid, dot) }
    }.toSeq
    val got = EmbedOps.quantizedTopK(embs, embs.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
  }

  // ---- fixed-point random projection ----

  test("rand_project matches a driver-side recomputation; deterministic across runs") {
    val got = EmbedOps.projectLong(embs.limit(20), "vec_id", "embedding", outDims = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val data = embs.limit(20).collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val expected = data.flatMap { case (id, v) =>
      val m = v.map(x => java.math.BigDecimal.valueOf(x.toDouble * 1000000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue())
      val acc = new Array[Long](16)
      for (d <- v.indices; j <- 0 until 16) {
        val lcg = (1103515245L * (d.toLong * 16 + j) + 12345L) % 2147483648L
        if (lcg >= 1073741824L) acc(j) += m(d) else acc(j) -= m(d)
      }
      acc.zipWithIndex.map { case (p, j) => (id, j.toLong, p) }
    }.toSeq.sortBy(t => (t._1, t._2))
    assert(got == expected)
    val again = EmbedOps.projectLong(embs.limit(20), "vec_id", "embedding", outDims = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == again)
  }

  test("sql surface: quantize_i8 / vec_dot_int / rand_project / bloom_might_contain registered") {
    val q = spark.sql(
      "SELECT quantize_i8(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT))) AS q"
    ).collect()(0).getSeq[Int](0)
    assert(q == Seq(64, -127))
    val dot = spark.sql("SELECT vec_dot_int(array(1, 2), array(3, 4)) AS d").collect()(0).getLong(0)
    assert(dot == 11L)
    assert(spark.sql("SELECT size(rand_project(array(CAST(1.0 AS FLOAT)), 4)) AS n")
      .collect()(0).getInt(0) == 4)
    val bloom = Bloom.build(Seq(7L).toDF("k"), "k", 10L, 0.01)
    val hit = spark.sql(
      s"SELECT bloom_might_contain(X'${bloom.map("%02x".format(_)).mkString}', CAST(7 AS BIGINT)) AS h")
      .collect()(0).getBoolean(0)
    assert(hit)
  }

  // ---- count-min heavy hitters ----

  test("CMS never underestimates; heavyHitters equals the plain groupBy-HAVING") {
    import graft.functions.CountMin
    import graft.operators.TextAnalysis
    // skewed key stream: key k appears k times, k in 1..100
    val keys = (1L to 100L).flatMap(k => Seq.fill(k.toInt)(k)).toDF("k")
    val cms = CountMin.build(keys, "k", depth = 4, width = 1024)
    val under = keys.distinct()
      .select(col("k"), CountMin.cms_estimate(lit(cms), col("k")).as("est"))
      .filter(col("est") < col("k")).count()
    assert(under == 0, "CMS must never underestimate a frequency")
    val hh = TextAnalysis.heavyHitters(docs, "text", minCount = 5L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val plain = docs
      .select(explode(split(graft.operators.Dedup.normalize(col("text")), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("n")).filter(col("n") >= 5)
      .orderBy(col("n").desc, col("term"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(hh == plain && hh.nonEmpty)
  }

  // ---- domain cap ----

  test("domainCap keeps exactly min(cap, per-source size) docs, ranks are dense") {
    val capped = Curation.domainCap(docs, "doc_id", "source", col("n_chars"), cap = 10)
    val perSource = capped.groupBy("source").agg(
      sum(col("is_kept")).as("kept"),
      count(lit(1)).as("n"),
      max(col("src_rank")).as("max_rk")
    ).collect()
    perSource.foreach { r =>
      val (kept, n, maxRk) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(kept == math.min(10L, n), s"source ${r.getString(0)}: kept $kept of $n")
      assert(maxRk == n, "ranks must be dense 1..n")
    }
    assert(perSource.nonEmpty)
  }

  test("PQ: encode/ADC kernels are exact vs a driver recomputation; index probe has real recall") {
    import graft.operators.Similarity
    val dir = "target/pq_unit"
    // 500 corpus vectors, 64-dim — the driver-testdata shape
    Similarity.buildPqIndex(spark, embs, "vec_id", "embedding", dim = 64, indexDir = dir,
      m = 8, kCodes = 64)
    // 1) codebook-exact ADC: score(q, cand) must equal the dot of q
    //    with the candidate's RECONSTRUCTION from the stored codebooks
    val books = spark.read.parquet(s"$dir/codebooks").orderBy("sub", "code").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getAs[Seq[Double]]("center").toArray)).toMap
    val codes = spark.read.parquet(s"$dir/codes").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = embs.collect().map(r =>
      r.getLong(0) -> r.getAs[Seq[Float]]("embedding").toArray).toMap
    def reconstruct(code: Long): Array[Double] =
      (0 until 8).flatMap(s => books((s, ((code >>> (8 * s)) & 0xffL).toInt))).toArray
    val probe = Similarity.pqTopKIndexed(spark, dir, embs.filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 3)
    // re-derive one scored pair by hand through the public kernel surface
    val got = probe.collect()
    assert(got.nonEmpty && got.forall(_.getLong(1) <= 3))
    got.foreach { r =>
      val (qid, nid) = (r.getLong(0), r.getLong(2))
      // the index normalizes both sides (ADC approximates cosine), so
      // the driver recomputation normalizes the query the same way
      val qraw = vecs(qid)
      val qn = math.sqrt(qraw.map(x => x.toDouble * x).sum)
      val q = qraw.map(x => (x / qn).toFloat)
      val rec = reconstruct(codes(nid))
      val exact = q.indices.map(i => q(i).toDouble * rec(i)).sum
      // ADC ranked by this score; recompute via kernel on one row
      val kscore = graft.functions.VecOps.pqAdc(
        codes(nid),
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
          graft.functions.VecOps.pqQueryTable(
            org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(q),
            {
              val flat = new Array[Float](8 * 64 * 8)
              books.foreach { case ((s, c), center) =>
                center.indices.foreach(d => flat((s * 64 + c) * 8 + d) = center(d).toFloat)
              }
              flat
            }, 8, 64, 8).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            .toFloatArray()),
        8, 64)
      assert(math.abs(kscore - exact) < 1e-3,
        s"ADC score $kscore != reconstructed dot $exact for ($qid, $nid)")
    }
    // 2) recall vs brute force at 500 vectors: PQ(16 codewords x 8
    //    subspaces) must agree on most of the top-10
    val brute = Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") < 20),
      "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = Similarity.pqTopKIndexed(spark, dir, embs.filter(col("vec_id") < 20),
      "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute intersect pq).size.toDouble / brute.size
    info(f"PQ ADC-only recall@10 vs brute at 500 vectors: $recall%.2f")
    assert(recall >= 0.3, s"ADC shortlist quality collapsed: $recall")
    // the production probe: ADC shortlist + exact re-rank on fetched
    // vectors — near-exact recall at 32x code compression
    val refined = Similarity.pqTopKRefined(spark, dir, embs.filter(col("vec_id") < 20),
      embs, "vec_id", "embedding", k = 10, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val refRecall = (brute intersect refined).size.toDouble / brute.size
    info(f"PQ refined recall@10: $refRecall%.2f")
    assert(refRecall >= 0.85, s"refined recall too low: $refRecall")
    // 3) determinism: rebuilding yields identical codes (seeded fits)
    val dir2 = "target/pq_unit2"
    Similarity.buildPqIndex(spark, embs, "vec_id", "embedding", dim = 64, indexDir = dir2,
      m = 8, kCodes = 64)
    val codes2 = spark.read.parquet(s"$dir2/codes").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(codes2 == codes, "PQ codes must be deterministic across rebuilds")
    // 4) fingerprint-guarded build: unchanged data skips the re-train;
    //    a rewritten corpus re-trains (parquet round-trip: real files)
    val srcDir = "target/pq_unit_src"
    embs.write.mode("overwrite").parquet(srcDir)
    val onDisk = spark.read.parquet(srcDir)
    val dir3 = "target/pq_unit3"
    assert(Similarity.buildPqIndexIfAbsent(spark, onDisk, "vec_id", "embedding", 64, dir3, 8, 64),
      "first build must train")
    assert(!Similarity.buildPqIndexIfAbsent(spark, spark.read.parquet(srcDir), "vec_id", "embedding", 64, dir3, 8, 64),
      "unchanged corpus must skip the re-train")
    // No mtime sleep: the fingerprint pins the sorted FILE LIST (every
    // Spark write job stamps a fresh UUID into its part-file names, and
    // repartition(3) changes the file COUNT too), so the rewrite changes
    // the fingerprint deterministically — independent of filesystem
    // timestamp granularity or an unlucky same-length rewrite.
    embs.limit(400).repartition(3).write.mode("overwrite").parquet(srcDir)
    assert(Similarity.buildPqIndexIfAbsent(spark, spark.read.parquet(srcDir), "vec_id", "embedding", 64, dir3, 8, 64),
      "rewritten corpus must re-train")
  }

  test("IVF-PQ: residual ADC probe has real recall; refine near-exact; deterministic rebuild") {
    import graft.operators.Similarity
    val dir = "target/ivfpq_unit"
    Similarity.buildIvfPqIndex(spark, embs, "vec_id", "embedding", dim = 64,
      nClusters = 16, indexDir = dir, m = 8, kCodes = 64)
    // layout: cells carry ONLY (cid, code) under cell= partitions —
    // probe IO is 8 bytes/vector in the probed cells, vectors never load
    val cellsSchema = spark.read.parquet(s"$dir/cells").schema.fieldNames.toSet
    assert(cellsSchema == Set("cid", "code", "cell"), cellsSchema.toString)
    val brute = Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") < 20),
      "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // ADC-only over nProbes=8 of 16 cells: residual codes + q·c offset
    val adc = Similarity.ivfPqTopK(spark, dir, embs.filter(col("vec_id") < 20),
      "vec_id", "embedding", k = 10, nProbes = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute intersect adc).size.toDouble / brute.size
    info(f"IVF-PQ ADC-only recall@10 vs brute at 500 vectors: $recall%.2f")
    assert(recall >= 0.3, s"IVFADC shortlist quality collapsed: $recall")
    // production probe: ADC shortlist + exact re-rank
    val refined = Similarity.ivfPqTopKRefined(spark, dir, embs.filter(col("vec_id") < 20),
      embs, "vec_id", "embedding", k = 10, nProbes = 8, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val refRecall = (brute intersect refined).size.toDouble / brute.size
    info(f"IVF-PQ refined recall@10: $refRecall%.2f")
    // refine recovers everything the probed cells contain; nProbes=8
    // of 16 caps recall below flat-PQ's (which scans every code) —
    // 0.80 measured on current testdata, floor left slack for driver
    // data regeneration
    assert(refRecall >= 0.7, s"refined recall too low: $refRecall")
    // determinism: rebuild reproduces cell assignment + codes exactly
    val codes1 = spark.read.parquet(s"$dir/cells").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("cell"))).toSet
    val dir2 = "target/ivfpq_unit2"
    Similarity.buildIvfPqIndex(spark, embs, "vec_id", "embedding", dim = 64,
      nClusters = 16, indexDir = dir2, m = 8, kCodes = 64)
    val codes2 = spark.read.parquet(s"$dir2/cells").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("cell"))).toSet
    assert(codes1 == codes2, "IVF-PQ cells/codes must be deterministic across rebuilds")
    // fingerprint guard: unchanged corpus skips the re-train
    val srcDir = "target/ivfpq_unit_src"
    embs.write.mode("overwrite").parquet(srcDir)
    val dir3 = "target/ivfpq_unit3"
    assert(Similarity.buildIvfPqIndexIfAbsent(spark, spark.read.parquet(srcDir),
      "vec_id", "embedding", 64, 16, dir3, 8, 64), "first build must train")
    assert(!Similarity.buildIvfPqIndexIfAbsent(spark, spark.read.parquet(srcDir),
      "vec_id", "embedding", 64, 16, dir3, 8, 64), "unchanged corpus must skip")
  }

  test("graph ANN: beam search has real recall vs brute; append attaches findably and idempotently") {
    import graft.operators.Similarity
    val dir = "target/hnsw_unit"
    Similarity.buildGraphIndex(spark, embs, "vec_id", "embedding", indexDir = dir, m = 16, nClusters = 16)
    // degree cap holds after symmetrize-then-prune
    val maxDeg = spark.read.parquet(s"$dir/edges")
      .groupBy("src").count().agg(max("count")).collect()(0).getLong(0)
    assert(maxDeg <= 16L, s"degree cap violated: $maxDeg")
    // one entry point per non-empty cell, all resolvable to vectors
    val entries = spark.read.parquet(s"$dir/entries")
    assert(entries.count() >= 1 && entries.count() <= 16)
    assert(entries.join(spark.read.parquet(s"$dir/vectors"), Seq("cid")).count() == entries.count())
    // recall vs brute over 20 queries at 500 vectors
    val queries = embs.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.graphTopK(spark, dir, queries, "vec_id", "embedding",
      k = 5, beam = 32, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute intersect approx).size.toDouble / brute.size
    info(f"graph ANN recall@5 vs brute at 500 vectors: $recall%.2f")
    assert(recall >= 0.8, s"beam search recall collapsed: $recall")
    // append: a near-twin of vec 3 under a fresh id attaches with
    // edges in BOTH directions, so a probe FROM the old vector finds it
    val twin = embs.filter(col("vec_id") === 3L).select(
      lit(9000L).as("vec_id"),
      transform(col("embedding"), (x, i) => when(i === 0, x + lit(0.05f)).otherwise(x)).as("embedding"))
    Similarity.appendGraphIndex(spark, dir, twin, "vec_id", "embedding", m = 16)
    val post = Similarity.graphTopK(spark, dir, embs.filter(col("vec_id") === 3L),
      "vec_id", "embedding", k = 1, beam = 32, rounds = 3).collect()
    assert(post.length == 1 && post(0).getLong(2) == 9000L,
      s"appended twin must be vec 3's new top-1: ${post.mkString(",")}")
    // id-idempotent replay: re-appending the same batch adds nothing
    val edgesBefore = spark.read.parquet(s"$dir/edges").count()
    val vecsBefore = spark.read.parquet(s"$dir/vectors").count()
    Similarity.appendGraphIndex(spark, dir, twin, "vec_id", "embedding", m = 16)
    assert(spark.read.parquet(s"$dir/edges").count() == edgesBefore)
    assert(spark.read.parquet(s"$dir/vectors").count() == vecsBefore)
  }

  test("graph ANN index: a rewritten corpus rebuilds the graph, an unchanged one keeps it") {
    import graft.operators.Similarity
    val srcDir = "target/hnsw_gate_src"
    val dir = "target/hnsw_gate"
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    def build(): Unit = Similarity.buildGraphIndexIfAbsent(spark, spark.read.parquet(srcDir),
      "vec_id", "embedding", indexDir = dir, m = 16, nClusters = 16)
    // every Spark write names its part files with a fresh UUID, so the
    // listing of edges/ changes exactly when the graph is rewritten
    def edgeFiles: Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/edges")).map(_.getPath.getName).toSet
    def graphIds: Set[Long] = {
      val e = spark.read.parquet(s"$dir/edges")
      (e.select("src").union(e.select("dst")).union(spark.read.parquet(s"$dir/entries").select("cid")))
        .collect().map(_.getLong(0)).toSet
    }
    embs.write.mode("overwrite").parquet(srcDir)
    build()
    val first = edgeFiles
    build()
    assert(edgeFiles == first, "unchanged corpus must keep the graph")
    embs.filter(col("vec_id") % 2 === 0).repartition(3).write.mode("overwrite").parquet(srcDir)
    build()
    assert(edgeFiles != first, "rewritten corpus must rebuild the graph")
    val kept = spark.read.parquet(srcDir).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(graphIds.nonEmpty && graphIds.subsetOf(kept), "the graph must hold only the rewritten corpus's vectors")
  }

  test("graphProbeSizing: beam/rounds grow with log2(n), floor at the small-corpus dials") {
    import graft.operators.Similarity
    // floors: tiny corpora keep the hand-tuned small dials
    assert(Similarity.graphProbeSizing(500L) == (36, 6))
    assert(Similarity.graphProbeSizing(2L) == (32, 6))
    // the measured curve's operating points (20k and 200k vectors)
    assert(Similarity.graphProbeSizing(20000L) == (60, 7))
    assert(Similarity.graphProbeSizing(200000L) == (72, 8))
    // monotone non-decreasing over six decades — no sizing cliff
    val pts = Seq(100L, 1000L, 10000L, 100000L, 1000000L, 10000000L, 100000000L)
      .map(Similarity.graphProbeSizing)
    assert(pts.sliding(2).forall { case Seq((b1, r1), (b2, r2)) => b2 >= b1 && r2 >= r1 })
    // growth is logarithmic: 100M vectors still probes a two-digit beam
    assert(pts.last._1 <= 120 && pts.last._2 <= 16)
  }

  test("pca top component: recovers a planted dominant direction, exactly reproducible") {
    import spark.implicits._
    import graft.operators.EmbedOps
    // planted structure: dim 3 carries a +-0.9 signal, every other dim
    // deterministic noise <= 0.05 — PC1 must align with dim 3, so the
    // projection must rank the +0.9 half above the -0.9 half
    val n = 400
    val dims = 16
    val rows = (0 until n).map { i =>
      val sign = if (i % 2 == 0) 1.0 else -1.0
      val vec = Array.tabulate(dims) { d =>
        val noise = (((i * 31 + d * 17) % 11) - 5) / 100.0
        (if (d == 3) sign * 0.9 else 0.0) + noise
      }.map(_.toFloat)
      (i.toLong, vec)
    }
    val df = rows.toDF("vec_id", "embedding")
    val proj = EmbedOps.pcaTopProjection(df, "vec_id", "embedding", dims = dims, iters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pos = rows.filter(_._1 % 2 == 0).map(r => proj(r._1))
    val neg = rows.filter(_._1 % 2 == 1).map(r => proj(r._1))
    // separation: the two halves must not overlap (up to sign flip)
    val separated = pos.min > neg.max || neg.min > pos.max
    assert(separated, s"PC1 failed to separate the planted signal: pos=[${pos.min},${pos.max}] neg=[${neg.min},${neg.max}]")
    // exact reproducibility: integer math must give identical output on re-run
    val proj2 = EmbedOps.pcaTopProjection(df, "vec_id", "embedding", dims = dims, iters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(proj2 == proj, "integer power iteration must be bit-identical across runs")
  }

  test("integer k-means: recovers planted clusters, deterministic, empty clusters survive") {
    import spark.implicits._
    import graft.operators.EmbedOps
    // 3 well-separated planted clusters in 8 dims; fit with k=4 so at
    // least one cluster must go/stay empty (exercises the keep-old path)
    val dims = 8
    val n = 300
    val rows = (0 until n).map { i =>
      val g = i % 3
      val vec = Array.tabulate(dims) { d =>
        val base = if (d == g) 1.0 else if (d == g + 3) -1.0 else 0.0
        val noise = (((i * 13 + d * 7) % 9) - 4) / 200.0
        (base + noise).toFloat
      }
      (i.toLong, vec)
    }
    val df = rows.toDF("vec_id", "embedding")
    val out = EmbedOps.kmeansFit(df, "vec_id", "embedding", dims = dims, k = 4, iters = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == n)
    // every member of a planted group must land in the same fitted cluster,
    // and different groups in different clusters
    val byGroup = out.groupBy(_._1 % 3).map { case (g, rs) => g -> rs.map(_._2).distinct }
    byGroup.foreach { case (g, cs) =>
      assert(cs.length == 1, s"planted group $g split across clusters $cs")
    }
    assert(byGroup.values.flatten.toSet.size == 3, "planted groups merged into one cluster")
    // distances to the fitted centroid must be small vs the inter-cluster scale
    // (planted separation ~2.0 in milli-units^2 across 2 dims = 8e6)
    assert(out.map(_._3).max < 1000000L, "assignment distance larger than noise scale")
    val out2 = EmbedOps.kmeansFit(df, "vec_id", "embedding", dims = dims, k = 4, iters = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out2.toSeq == out.toSeq, "integer k-means must be bit-identical across runs")
  }

  test("cluster outliers: planted far point flagged by its own cluster's MAD gate only") {
    import spark.implicits._
    import graft.operators.EmbedOps
    val dims = 8
    // two tight planted clusters + one far outlier appended to cluster 0's side
    val rows = (0 until 200).map { i =>
      val g = i % 2
      val vec = Array.tabulate(dims) { d =>
        val base = if (d == g) 1.0 else 0.0
        val noise = (((i * 11 + d * 5) % 7) - 3) / 300.0
        (base + noise).toFloat
      }
      (i.toLong, vec)
    } :+ (999L, Array.tabulate(dims)(d => if (d == 0) 3.0f else 0.5f))
    val df = rows.toDF("vec_id", "embedding")
    val out = EmbedOps.clusterOutliers(df, "vec_id", "embedding", dims = dims, k = 2, iters = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 201)
    val flagged = out.filter(_._4 == 1L).map(_._1)
    assert(flagged.contains(999L), "planted far point must be flagged")
    // the tight-cluster points must NOT be flagged (robust gate holds)
    assert(flagged.count(_ != 999L) < 10, s"gate over-fires: $flagged")
  }

  test("SQ8 refined probe: exact re-rank recovers recall the raw int8 ranking loses") {
    import graft.operators.Similarity
    val dir = "target/sq8_refine_unit"
    Similarity.buildIvfIndexSq8(spark, embs, "vec_id", "embedding", nClusters = 16, indexDir = dir)
    val queries = embs.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(pairs: Set[(Long, Long)]): Double = (brute intersect pairs).size.toDouble / brute.size
    val raw = Similarity.ivfTopKIndexedSq8(spark, dir, queries, "vec_id", "embedding", k = 5, nProbes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val refined = Similarity.ivfTopKIndexedSq8Refined(spark, dir, queries, embs,
      "vec_id", "embedding", k = 5, nProbes = 4, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    info(f"SQ8 recall@5: raw ${recall(raw)}%.2f -> refined ${recall(refined)}%.2f")
    // the refine can only re-order within the int8 shortlist, so it
    // must not lose recall; on this corpus it measurably gains it
    assert(recall(refined) >= recall(raw), s"refine lost recall: ${recall(raw)} -> ${recall(refined)}")
    assert(recall(refined) >= 0.6, s"refined recall too low: ${recall(refined)}")
    // shape contract: k rows per query, rank 1-based
    val rows = Similarity.ivfTopKIndexedSq8Refined(spark, dir, queries, embs,
      "vec_id", "embedding", k = 5, nProbes = 4, shortlist = 50).collect()
    assert(rows.groupBy(_.getLong(0)).forall(_._2.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L)))
  }
}
