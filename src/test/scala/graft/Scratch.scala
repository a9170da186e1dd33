package graft

/** Ad-hoc perf scratchpad (not part of the driver contract). */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"[scratch] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    if (sys.env.contains("GRAFT_PROBE_SCAN")) {
      // scan-only floors for the §6b root-cause notes: how much of a
      // "steep scaler" is just the parquet read + sink?
      import org.apache.spark.sql.functions._
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val emb = graft.sources.Catalog.load(spark, sfDir, "embeddings")
      val li = graft.sources.Catalog.load(spark, sfDir, "lineitem")
      noop(emb.limit(10)) // session warm-up
      time("embeddings scan (all cols)") { noop(emb) }
      time("embeddings scan x2") { noop(emb) }
      time("embed_quantize") {
        noop(graft.operators.EmbedOps.quantizeLong(emb, "vec_id", "embedding"))
      }
      time("embed_quantize x2") {
        noop(graft.operators.EmbedOps.quantizeLong(emb, "vec_id", "embedding"))
      }
      time("lineitem scan (all cols)") { noop(li) }
      time("lineitem scan x2") { noop(li) }
      time("lineitem 3-col scan") { noop(li.select("l_partkey", "l_quantity", "l_extendedprice")) }
      spark.stop(); return
    }
    if (sys.env.contains("GRAFT_PROBE_TIFF")) {
      import org.apache.spark.sql.functions._
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val dir = s"target/mm_tiff_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}"
      val staged = spark.read.parquet(s"$dir/payloads")
      noop(staged.limit(10)) // warm-up
      time("staged read") { noop(staged) }
      time("staged read x2") { noop(staged) }
      for (r <- 1 to 2) time(s"tiff parse r$r") {
        noop(graft.operators.Multimodal.parseTiffMeta(staged, "doc_id", "payload"))
      }
      for (r <- 1 to 2) time(s"tiff parse nosort r$r") {
        noop(graft.operators.Multimodal.parseTiffMeta(staged, "doc_id", "payload", sorted = false))
      }
      spark.stop(); return
    }
    if (sys.env.contains("GRAFT_PROBE_CC")) {
      import org.apache.spark.sql.functions._
      import graft.operators.Dedup
      val docs = graft.sources.Catalog.load(spark, sfDir, "documents")
      val sh0 = docs.select(col("doc_id").as("id"),
        array_sort(array_distinct(Dedup.shingleHashSet(col("text"), 3))).as("hs"))
        .withColumn("nsh", size(col("hs")).cast("long"))
      time("stage sh (shingle+sort+distinct)") { println(s"[scratch] sh rows = ${sh0.count()}") }
      val shP = sh0.persist()
      time("stage sh persist") { shP.count() }
      val posts0 = shP.select(col("id"), col("nsh"), explode(col("hs")).as("h"))
      time("stage posts") { println(s"[scratch] posts rows = ${posts0.count()}") }
      val wDf0 = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
      val wId0 = org.apache.spark.sql.expressions.Window.partitionBy(col("id")).orderBy(col("df"), col("h"))
      val prefLen0 = col("nsh") - floor((col("nsh") * 80 + 99L) / 100L) + 1L
      val prefix0 = posts0.withColumn("df", count(lit(1)).over(wDf0))
        .withColumn("rk", row_number().over(wId0)).filter(col("rk") <= prefLen0)
        .select(col("h"), col("id"), col("nsh"), col("rk"))
      time("stage prefix (2 windows)") { println(s"[scratch] prefix rows = ${prefix0.count()}") }
      val alpha0 = expr("((80 * (a.nsh + b.nsh)) + 179) div 180")
      val cands0 = prefix0.alias("a").join(prefix0.alias("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          least(col("a.nsh"), col("b.nsh")) * 100 >= greatest(col("a.nsh"), col("b.nsh")) * 80 &&
          least(col("a.nsh") - col("a.rk"), col("b.nsh") - col("b.rk")) + 1L >= alpha0)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
      time("stage cands (positional)") { println(s"[scratch] cands rows = ${cands0.count()}") }
      shP.unpersist()
      var pairs: org.apache.spark.sql.DataFrame = null
      time("ngramJaccardPairs build+count") {
        pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tauPct = 80).persist()
        println(s"[scratch] pairs = ${pairs.count()}")
      }
      time("connectedComponents") {
        val cc = Dedup.connectedComponents(pairs)
        println(s"[scratch] cc rows = ${cc.count()}")
      }
      time("clusterAssign full") {
        Dedup.clusterAssign(docs, "doc_id", pairs).write.format("noop").mode("overwrite").save()
      }
      spark.stop(); return
    }
    if (sys.env.contains("GRAFT_PROBE_LSH")) {
      import org.apache.spark.sql.functions._
      import graft.operators.{Dedup, Similarity}
      val e = graft.sources.Catalog.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val pert = e.select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + lit(0.05f)).otherwise(x)).as("embedding"))
      val all = e.unionByName(pert)
      val n = all.count()
      val (planesEff, tablesEff) = Dedup.lshSizing(n, 0.99, 8, 8)
      println(s"[scratch] n=$n planes=$planesEff tables=$tablesEff")
      val bucketed = all.select(col("vec_id").as("id"),
        explode(Similarity.tableBuckets(col("embedding"), planesEff, tablesEff)).as("tb"))
      val occ = bucketed.groupBy("tb").agg(count(lit(1)).as("c"))
      occ.agg(sum(expr("c*(c-1)/2")).as("cand_pairs"), max("c").as("max_bucket"),
        count(lit(1)).as("n_buckets")).show()
      val bp = bucketed.persist()
      time("ids-only pairs+distinct") {
        val d = bp.alias("a").join(bp.alias("b"),
          col("a.tb") === col("b.tb") && col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .distinct()
        println(s"[scratch] distinct pairs = ${d.count()}")
      }
      bp.unpersist()
      // natural cosine distribution on a sample of pairs
      val s1 = e.filter(col("vec_id") % 97 === 0).select(col("vec_id").as("ida"), col("embedding").as("va"))
      val s2 = e.filter(col("vec_id") % 89 === 0).select(col("vec_id").as("idb"), col("embedding").as("vb"))
      s1.join(broadcast(s2), col("ida") < col("idb"))
        .select((Similarity.dot(col("va"), col("vb")) /
          (Similarity.norm(col("va")) * Similarity.norm(col("vb")))).as("cos"))
        .agg(max("cos").as("max_cos"), avg("cos").as("avg_cos"),
          sum(when(col("cos") > 0.9, 1L).otherwise(0L)).as("gt09"),
          sum(when(col("cos") > 0.94, 1L).otherwise(0L)).as("gt094"),
          count(lit(1)).as("n_pairs")).show()
      spark.stop(); return
    }
    if (sys.env.contains("GRAFT_PROBE_HNSW")) {
      // recall-vs-(beam,rounds) sweep on one persisted graph index —
      // the probe dials never retrain, so each point is cheap; used to
      // pick the auto-sizing rule for graphTopK at growing corpus size
      import org.apache.spark.sql.functions._
      import graft.operators.Similarity
      val e = graft.sources.Catalog.load(spark, sfDir, "embeddings")
      val qs = e.filter(col("vec_id") < 100)
      val dir = s"target/hnsw_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}"
      time("build (reused if present)") {
        Similarity.buildGraphIndexIfAbsent(spark, e, "vec_id", "embedding", indexDir = dir, m = 16)
      }
      def ranked(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select("qid", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = ranked(Similarity.bruteForceTopK(e, qs, "vec_id", "embedding", k = 5))
      val sweep = sys.env.get("GRAFT_HNSW_SWEEP")
        .map(_.split(";").toSeq.map { p =>
          val Array(b, r) = p.split(","); (b.trim.toInt, r.trim.toInt)
        })
        .getOrElse(Seq((32, 6), (48, 6), (64, 8), (96, 8), (128, 10)))
      for ((beam, rounds) <- sweep) {
        var approx: Set[(Long, Long)] = Set.empty
        time(s"probe beam=$beam rounds=$rounds") {
          approx = ranked(Similarity.graphTopK(spark, dir, qs, "vec_id", "embedding",
            k = 5, beam = beam, rounds = rounds))
        }
        println(f"[scratch] beam=$beam rounds=$rounds recall@5=${(approx intersect brute).size.toDouble / brute.size}%.4f")
      }
      spark.stop(); return
    }
    if (sys.env.contains("GRAFT_PROBE_HNSWTIME")) {
      // repeated default-dial probe timing in ONE JVM (min-of-N beats
      // cross-JVM bench noise when comparing probe-plan variants);
      // job/task counts from a listener are the noise-free structural
      // metric the wall-clock samples back up
      import org.apache.spark.sql.functions._
      import graft.operators.Similarity
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          tasks.incrementAndGet()
      })
      val e = graft.sources.Catalog.load(spark, sfDir, "embeddings")
      val qs = e.filter(col("vec_id") < 10)
      val dir = s"target/hnsw_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}"
      time("build (reused if present)") {
        Similarity.buildGraphIndexIfAbsent(spark, e, "vec_id", "embedding", indexDir = dir, m = 16)
      }
      for (r <- 1 to 5) {
        val j0 = jobs.get(); val t0 = tasks.get()
        time(s"probe r$r") {
          Similarity.graphTopK(spark, dir, qs, "vec_id", "embedding", k = 5)
            .write.format("noop").mode("overwrite").save()
        }
        Thread.sleep(200) // listener events drain async
        println(s"[scratch] probe r$r jobs=${jobs.get() - j0} tasks=${tasks.get() - t0}")
      }
      spark.stop(); return
    }
    if (sys.env.contains("GRAFT_PROBE_CURATE")) {
      // curate_corpus_v2 stage split: signal-frame fill vs post-sig plan
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      import graft.operators.{Curation, Dedup}
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val docs = graft.sources.Catalog.load(spark, sfDir, "documents")
      noop(docs.limit(5))
      val evalCol = col("doc_id") % 97 === 0
      val ws = split(Dedup.normalize(col("text")), " ")
      val corpus = docs.filter(!evalCol)
      for (r <- 1 to 3) {
        val removed = corpus
          .select(col("doc_id").cast("long").as("id"),
            when(size(ws) >= 8, graft.functions.VecOps.shingle_hashes(ws, 8))
              .otherwise(array().cast("array<long>")).as("sh_clip"))
          .select(col("id"), posexplode(col("sh_clip")))
          .select(col("id"), col("pos").cast("long").as("pos"), col("col").as("sh"))
          .withColumn("first_id", min(col("id")).over(Window.partitionBy(col("sh"))))
          .filter(col("first_id") < col("id"))
          .groupBy(col("id"))
          .agg(graft.functions.VecOps.covered_count(
            sort_array(collect_list(col("pos"))), 8).as("n_removed"))
        time(s"r$r removed-only") { noop(removed) }
        def dcShingled(src: org.apache.spark.sql.DataFrame, as: String) = src.select(
          col("doc_id").cast("long").as(as),
          array_distinct(Dedup.shingleHashSet(col("text"), 3)).as("sh"))
        val ben = broadcast(dcShingled(docs.filter(evalCol), "eval_id")
          .select(col("eval_id"), size(col("sh")).cast("long").as("sz_b"), explode(col("sh")).as("h")))
        val contaminated = dcShingled(corpus, "id")
          .select(col("id"), size(col("sh")).cast("long").as("sz_a"), explode(col("sh")).as("h"))
          .join(ben, "h")
          .groupBy(col("id"), col("eval_id"), col("sz_a"), col("sz_b"))
          .agg(count(lit(1)).as("shared"))
          .filter(col("shared") * 1000000L >= lit(150000L) * (col("sz_a") + col("sz_b") - col("shared")))
          .select(col("id")).distinct()
        time(s"r$r contaminated-only") { noop(contaminated) }
        var sig: org.apache.spark.sql.DataFrame = null
        time(s"r$r sig checkpoint fill") {
          sig = corpus
            .select(col("doc_id").cast("long").as("id"), col("source").as("stratum"),
              size(ws).cast("long").as("n_tokens"))
            .join(removed, Seq("id"), "left")
            .join(contaminated, Seq("id"), "left_anti")
            .select(col("id"), col("stratum"),
              (col("n_tokens") - coalesce(col("n_removed"), lit(0L))).as("kept_tokens"))
            .localCheckpoint()
        }
        time(s"r$r full query") {
          noop(Curation.curatePipeline(docs, "doc_id", "text", "source",
            evalCol = col("doc_id") % 97 === 0))
        }
        spark.catalog.clearCache()
      }
      spark.stop(); return
    }
    if (sys.env.contains("GRAFT_PROBE_GRAPH")) {
      // graph-family solo timing, min-of-N in ONE JVM + job/task counts
      import org.apache.spark.sql.functions._
      import graft.operators.GraphOps
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          tasks.incrementAndGet()
      })
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val docs = graft.sources.Catalog.load(spark, sfDir, "documents")
      val n = docs.count()
      val edges = docs.select(col("doc_id").as("src"),
        explode(array(
          (col("doc_id") * 7 + 1) % n,
          (col("doc_id") * 13 + 2) % n,
          (col("doc_id") * 31 + 3) % n)).as("dst"))
      noop(edges.limit(5)) // warm-up
      val which = sys.env.getOrElse("GRAFT_PROBE_GRAPH", "pagerank,hits,kcore")
        .split(",").toSet
      def probe(name: String)(f: => org.apache.spark.sql.DataFrame): Unit =
        if (which(name)) for (r <- 1 to 4) {
          val j0 = jobs.get(); val t0 = tasks.get()
          time(s"$name r$r") { noop(f) }
          spark.catalog.clearCache()
          Thread.sleep(200)
          println(s"[scratch] $name r$r jobs=${jobs.get() - j0} tasks=${tasks.get() - t0}")
        }
      val full = array(
        (col("doc_id") * 7 + 1) % n, (col("doc_id") * 13 + 2) % n,
        (col("doc_id") * 31 + 3) % n, (col("doc_id") * 37 + 4) % n,
        (col("doc_id") * 41 + 5) % n, (col("doc_id") * 43 + 6) % n,
        (col("doc_id") * 47 + 7) % n, (col("doc_id") * 53 + 8) % n)
      val kcEdges = docs.select(col("doc_id").as("src"),
        explode(slice(full, lit(1), lit(2) + col("doc_id") % 7)).as("dst"))
      probe("pagerank") { GraphOps.pageRank(edges, iters = 5, dampPct = 85) }
      probe("hits") { GraphOps.hits(edges, iters = 4) }
      probe("kcore") { GraphOps.kcoreRounds(kcEdges, k = 7, rounds = 10) }
      spark.stop(); return
    }
    if (sys.env.contains("GRAFT_PROBE_HNSWBUILD")) {
      // build-phase breakdown: fit vs (assignment + kNN + symmetrize)
      import org.apache.spark.sql.functions._
      import graft.operators.Similarity
      val e = graft.sources.Catalog.load(spark, sfDir, "embeddings")
      val n = e.count()
      val c = math.max(16, (n / 256L).toInt)
      println(s"[scratch] n=$n c=$c")
      time("fitCentroids") {
        Similarity.fitCentroids(
          spark.read.parquet(s"target/hnswb_probe/vectors"), "cvec", c)
      }
      spark.stop(); return
    }
    if (sys.env.contains("GRAFT_PROBE_QUANT")) {
      import org.apache.spark.sql.functions._
      import graft.functions.VecOps
      val e = graft.sources.Catalog.load(spark, sfDir, "embeddings")
      val cands = e.select(col("vec_id").as("cid"), VecOps.quantize_i8(col("embedding")).as("cq"))
      val qs = broadcast(e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), VecOps.quantize_i8(col("embedding")).as("qq")))
      val candsF = e.select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val qsF = broadcast(e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv")))
      for (r <- 1 to 2) {
        time(s"inline-quant     r$r") {
          cands.join(qs, col("cid") =!= col("qid"))
            .select(col("qid"), VecOps.vec_dot_int(col("cq"), col("qq")).as("s"))
            .groupBy(col("qid")).agg(sum(col("s")))
            .write.format("noop").mode("overwrite").save()
        }
        time(s"sortWithinParts  r$r") {
          cands.sortWithinPartitions("cid").join(qs, col("cid") =!= col("qid"))
            .select(col("qid"), VecOps.vec_dot_int(col("cq"), col("qq")).as("s"))
            .groupBy(col("qid")).agg(sum(col("s")))
            .write.format("noop").mode("overwrite").save()
        }
        time(s"cond-touches-cq  r$r") {
          cands.join(qs, col("cid") =!= col("qid") && size(col("cq")) > -1)
            .select(col("qid"), VecOps.vec_dot_int(col("cq"), col("qq")).as("s"))
            .groupBy(col("qid")).agg(sum(col("s")))
            .write.format("noop").mode("overwrite").save()
        }
        time(s"float-dot        r$r") {
          candsF.join(qsF, col("cid") =!= col("qid"))
            .select(col("qid"), VecOps.vec_dot(col("cv"), col("qv")).as("s"))
            .groupBy(col("qid")).agg(sum(col("s")))
            .write.format("noop").mode("overwrite").save()
        }
      }
      spark.stop(); return
    }
    if (sys.env.contains("GRAFT_PROBE_PCA")) {
      // r12: per-piece cost of one pca iteration at sf0.1 — codegen
      // recompile (v-constants inlined per iteration) vs job floor
      import org.apache.spark.sql.functions._
      val emb = graft.sources.Catalog.load(spark, sfDir, "embeddings")
      val dims = 64
      val par = spark.sparkContext.defaultParallelism
      val xq = (if (emb.rdd.getNumPartitions < par) emb.repartition(par) else emb)
        .select(col("vec_id"),
          transform(col("embedding"), x => floor(x.cast("double") * lit(1000d)).cast("long")).as("xq"))
        .cache()
      time("cache fill (count)") { xq.count() }
      for (r <- 1 to 3) time(s"plain count r$r") { xq.count() }
      for (r <- 1 to 3) time(s"1-sum agg   r$r") { xq.agg(expr("sum(xq[0])")).head() }
      val muRow = xq.agg(array((0 until dims).map(d => expr(s"sum(xq[$d]) DIV count(*)")): _*).as("mu"))
        .head().getSeq[Long](0).toArray
      def sExpr(v: Array[Long]): String =
        (0 until dims).map(d => s"(xq[$d] - ${muRow(d)}L) * ${v(d)}L").mkString("(", " + ", ") DIV 1000000")
      val v0 = Array.fill(dims)(1000000L)
      for (r <- 1 to 3) {
        val v = v0.map(_ + r) // distinct constants: forces fresh codegen like real iterations
        time(s"w-agg fresh-consts r$r") {
          xq.select(expr(sExpr(v)).as("s"), col("xq"))
            .agg(array((0 until dims).map(d => expr(s"sum(s * (xq[$d] - ${muRow(d)}L))")): _*).as("w"))
            .head()
        }
      }
      for (r <- 1 to 3) time(s"w-agg same-consts  r$r") {
        xq.select(expr(sExpr(v0)).as("s"), col("xq"))
          .agg(array((0 until dims).map(d => expr(s"sum(s * (xq[$d] - ${muRow(d)}L))")): _*).as("w"))
          .head()
      }
      spark.stop(); return
    }
    if (sys.env.contains("GRAFT_PROBE_PLANSPLIT")) {
      // r12: construction (incl. eager phases) / physical planning /
      // execution split for suspected driver-overhead-bound queries
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      noop(graft.sources.Catalog.load(spark, sfDir, "documents").limit(5))
      val qnames = sys.env.getOrElse("GRAFT_PLANSPLIT_QUERIES",
        "quartiles_price,rfm_segments,graph_pagerank,embed_pca_top,embed_kmeans,funnel_latency")
        .split(",").map(_.trim).filter(_.nonEmpty)
      for (n <- qnames; r <- 1 to 2) {
        var df: org.apache.spark.sql.DataFrame = null
        time(f"$n%-18s construct r$r") { df = SparkEntry.queries(n)(spark, sfDir) }
        time(f"$n%-18s plan      r$r") { df.queryExecution.executedPlan }
        time(f"$n%-18s exec      r$r") { noop(df) }
        spark.catalog.clearCache()
      }
      spark.stop(); return
    }
    if (sys.env.contains("GRAFT_PROBE_CLIP")) {
      // r12: where does the clip family spend — the shingle explode +
      // first-seen window, or the post-window covered-position work?
      import org.apache.spark.sql.functions._
      import graft.operators.{Curation, Dedup}
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val docs = graft.sources.Catalog.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      noop(docs.limit(10))
      val n = 8
      val dd = docs.select(col("doc_id").as("id"), split(Dedup.normalize(col("text")), " ").as("__ws"))
      val exploded = dd
        .select(col("id"),
          when(size(col("__ws")) >= n, graft.functions.VecOps.shingle_hashes(col("__ws"), n))
            .otherwise(array().cast("array<long>")).as("shs"))
        .select(col("id"), posexplode(col("shs")))
        .select(col("id"), col("pos").cast("long").as("pos"), col("col").as("sh"))
      for (r <- 1 to 2) {
        time(s"explode only          r$r") { noop(exploded) }
        time(s"explode+window+filter r$r") {
          noop(exploded
            .withColumn("first_id", min(col("id")).over(
              org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))))
            .filter(col("first_id") < col("id"))
            .select(col("id"), col("pos")))
        }
        time(s"clipDedup kernel      r$r") { noop(Curation.clipDedup(docs, "doc_id", "text", n)) }
        time(s"clipDedup declarative r$r") { noop(Curation.clipDedupDeclarative(docs, "doc_id", "text", n)) }
        time(s"dupSpanStats kernel   r$r") { noop(Curation.dupSpanStats(docs, "doc_id", "text", n)) }
        time(s"dupSpanStats declar.  r$r") { noop(Curation.dupSpanStatsDeclarative(docs, "doc_id", "text", n)) }
      }
      spark.stop(); return
    }
    if (sys.env.contains("GRAFT_PROBE_BIGRAM")) {
      // r12: kernel bigram-hash explode vs the zip_with/concat form it
      // replaced (the tf stage feeding bigram_lm / kn / ccnet), plus
      // the full queries after the swap
      import org.apache.spark.sql.functions._
      import graft.functions.VecOps
      import graft.operators.Dedup
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val docs = graft.sources.Catalog.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      noop(docs.limit(10))
      val w = split(Dedup.normalize(col("text")), " ")
      val heads = slice(w, lit(1), size(w) - 1)
      val tails = slice(w, lit(2), size(w) - 1)
      for (r <- 1 to 2) {
        time(s"tf declarative r$r") {
          noop(docs.select(col("doc_id"), explode(zip_with(heads, tails,
            (h, tl) => struct(xxhash64(h).as("hh"), xxhash64(concat(h, lit(" "), tl)).as("bh")))).as("p"))
            .groupBy(col("doc_id"), col("p.bh"), col("p.hh")).agg(count(lit(1)).as("tf")))
        }
        time(s"tf kernel      r$r") {
          noop(docs.select(col("doc_id"),
            explode(VecOps.bigram_hash_pairs(VecOps.normalize_ws(col("text")), tailMode = false)).as("p"))
            .groupBy(col("doc_id"), col("p.bh"), col("p.hh")).agg(count(lit(1)).as("tf")))
        }
      }
      spark.stop(); return
    }
    if (sys.env.contains("GRAFT_PROBE_TEXTKERNEL")) {
      // r12: single-pass byte kernels vs the declarative (HOF/regex)
      // formulations they replaced — same rows by OptimizationParitySpec
      import graft.operators.TextAnalysis
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val docs = graft.sources.Catalog.load(spark, sfDir, "documents")
        .select(org.apache.spark.sql.functions.col("doc_id"), org.apache.spark.sql.functions.col("text"))
      noop(docs.limit(10)) // warm-up
      for (r <- 1 to 2) {
        time(s"gopher kernel      r$r") { noop(TextAnalysis.gopherGate(docs, "doc_id", "text")) }
        time(s"gopher declarative r$r") { noop(TextAnalysis.gopherGateDeclarative(docs, "doc_id", "text")) }
        time(s"wm kernel          r$r") { noop(TextAnalysis.watermarkScore(docs, "doc_id", "text")) }
        time(s"wm declarative     r$r") { noop(TextAnalysis.watermarkScoreDeclarative(docs, "doc_id", "text")) }
      }
      spark.stop(); return
    }
    val names = sys.env.getOrElse("GRAFT_SCRATCH_QUERIES", "sim_topk_brute,sim_topk_quant")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val explain = sys.env.contains("GRAFT_SCRATCH_EXPLAIN")
    names.foreach { n =>
      if (explain) { println(s"=== $n ==="); SparkEntry.queries(n)(spark, sfDir).explain("formatted") }
      // construction INSIDE the timer: operators with eager phases
      // (count/collect for size-adaptive strategy) spend real time
      // before any write starts
      time(s"$n run1") { SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save() }
      time(s"$n run2") { SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save() }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
