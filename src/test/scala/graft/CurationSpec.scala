package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup}
import graft.sources.Catalog

class CurationSpec extends SparkSpec {

  test("dupNgramMass: repeated phrases counted against earlier docs only") {
    import spark.implicits._
    import graft.operators.Curation
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // 2 distinct 5-grams, first seen here
      (2L, "alpha beta gamma delta epsilon eta"),  // shares shingle 1 of 2 with doc 1
      (3L, "tiny doc")                              // < 5 words -> no n-grams
    ).toDF("doc_id", "text")
    val got = Curation.dupNgramMass(docs, "doc_id", "text", n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 0L, 0L),    // first doc: nothing earlier
      (2L, 2L, 1L, 5000L), // "alpha beta gamma delta epsilon" seen in doc 1
      (3L, 0L, 0L, 0L)))
  }
  import spark.implicits._

  lazy val docs = Catalog.load(spark, sf, "documents")

  test("corpusDiff: every document classified exactly once; all five categories land") {
    import spark.implicits._
    // v1: ids 1..6; v2 drops 2 (removed), adds 7 (added), edits 3
    // (hash change), regates 4 (same hash, gate flip), 1/5/6 unchanged
    val v1 = Seq(
      (1L, "h1", 1L, "web"), (2L, "h2", 0L, "web"), (3L, "h3", 1L, "web"),
      (4L, "h4", 1L, "books"), (5L, "h5", 0L, "books"), (6L, "h6", 1L, "books")
    ).toDF("doc_id", "h", "gate", "source")
    val v2 = Seq(
      (1L, "h1", 1L, "web"), (3L, "h3x", 1L, "web"),
      (4L, "h4", 0L, "books"), (5L, "h5", 0L, "books"), (6L, "h6", 1L, "books"),
      (7L, "h7", 1L, "web")
    ).toDF("doc_id", "h", "gate", "source")
    val got = Curation.corpusDiff(v1, v2, "doc_id", "h", "gate", "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.toSeq == Seq(
      //        added removed edited regated unchanged chk(changed ids)
      ("books", 0L, 0L, 0L, 1L, 2L, 4L),
      ("web", 1L, 1L, 1L, 0L, 1L, 12L))) // 7 + 2 + 3
    // totals partition the union of both snapshots: |v1 ∪ v2| = 7
    assert(got.map(g => g._2 + g._3 + g._4 + g._5 + g._6).sum == 7L)
  }

  test("weightedSampleStratified: per-stratum k, priorities match the global C57 key, deterministic") {
    val got = Curation.weightedSampleStratified(docs, "doc_id", "lang", "n_chars", kPerStratum = 10)
    val rows = got.collect()
    val perStratum = rows.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    val nLangs = docs.select("lang").distinct().count()
    assert(perStratum.size == nLangs && perStratum.values.forall(_ == 10))
    // rn is 1..k within each stratum, ordered by (priority, doc_id)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(4))
      assert(sorted.map(_.getLong(4)).toSeq == (1L to 10L))
      val keys = sorted.map(r => (r.getLong(3), r.getLong(1)))
      assert(keys.toSeq == keys.sortBy(identity).toSeq)
    }
    // the priority key IS the C57 sequential-Poisson key: the global
    // draw restricted to one stratum agrees on every member it keeps
    val globalK = Curation.weightedSample(docs.filter(col("lang") === "en"), "doc_id", "n_chars", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val stratEn = rows.filter(_.getString(0) == "en").map(r => (r.getLong(1), r.getLong(3))).toMap
    assert(globalK == stratEn)
    // determinism: a second run returns byte-identical rows
    val again = Curation.weightedSampleStratified(docs, "doc_id", "lang", "n_chars", kPerStratum = 10)
      .collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("scrubPii: emails, phones, IPs replaced; ordering protects IP digits from phone regex") {
    val rows = Seq(
      "write a.b+c@foo-bar.co.uk today",
      "call +1 (555) 867-5309 now",
      "host 192.168.0.1 responded",
      "mixed: x@y.io then 10.0.0.7 then 555-867-5309",
      "no pii here at all"
    ).toDF("t").select(Curation.scrubPii(col("t")).as("s")).as[String].collect()
    assert(rows(0) == "write <EMAIL> today")
    assert(rows(1) == "call <PHONE> now")
    assert(rows(2) == "host <IP> responded")
    assert(rows(3) == "mixed: <EMAIL> then <IP> then <PHONE>")
    assert(rows(4) == "no pii here at all")
  }

  test("kernel parity: scrubPii/stripMarkup byte kernels equal the regexp_replace chains") {
    // Adversarial cases for every backtracking/boundary subtlety the
    // kernels hand-derive: email local/phone overlap, domain-side
    // backtracking and trailing junk, \b against replaced text and
    // multi-byte neighbors, phone middle-class give-back, unclosed
    // and nested-looking tags, mixed whitespace.
    val adversarial = Seq(
      "123 45678-90a@b.co",       // email local eats what phone would have
      "a@b.co1", "a@b.coX@d.co", "x@y z@a.com", "a@b@c.com",
      "a@b.c", "@x.com", "a@.com", "a@..com", "a@-.-xy tail",
      "1234.5.6.7", "1.2.3.4567", "1.2.3.41.2.3.4", "a1.2.3.4",
      "_1.2.3.4", "-1.2.3.4x", "é1.2.3.4", "1.2.3.4é", "1.2.3.4",
      "++12345678", "+1 (555) 867-5309", "1234567", "12345678",
      "12345678- tail", "123456789ab", "1 2 3 4 5 6 7 8",
      "+((1)) 23-45-67-89", "12 34567 a@b.co",
      "user123@example.com or +1 555-867-5309 at 10.0.36.7",
      "<a href=x>hi</a>", "a < b > c", "x<unclosed tag", "<<a>>",
      "\t\n x  y \r\n", " <p> lead</p>tag ", "", "<>", "><",
      "naïve café über — ünïcode 100.200.300.4000 text"
    )
    // plus fuzz: random soup dense in the trigger characters
    val rnd = new scala.util.Random(20260815L)
    val alphabet = "ab2567.@+- ()\t<>_%xé9"
    val fuzz = Seq.fill(4000)((0 until (1 + rnd.nextInt(60))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = (adversarial ++ fuzz).toDF("t")
    val scrub = df.select(
      Curation.scrubPii(col("t")).as("k"), Curation.scrubPiiRegex(col("t")).as("r"), col("t"))
      .collect()
    for (row <- scrub)
      assert(row.getString(0) == row.getString(1), s"scrub mismatch on ${row.getString(2)}")
    val strip = df.select(
      Curation.stripMarkup(col("t")).as("k"), Curation.stripMarkupRegex(col("t")).as("r"), col("t"))
      .collect()
    for (row <- strip)
      assert(row.getString(0) == row.getString(1), s"strip mismatch on ${row.getString(2)}")
    // and the staged corpus shape the oracle actually runs
    val staged = docs.select(concat(
      col("text"), lit(" contact user"), col("doc_id"), lit("@example.com or +1 555-867-5309 at 10.0."),
      col("doc_id") % 256, lit(".7")).as("t"))
    val corpus = staged.select(
      Curation.scrubPii(col("t")).as("k"), Curation.scrubPiiRegex(col("t")).as("r"))
      .filter(col("k") =!= col("r")).count()
    assert(corpus == 0L)
  }

  test("stripMarkup: tags removed, whitespace collapsed, text preserved") {
    val r = Seq("""<html><body><h1 class="t">Hi</h1><p>a  b</p><br/>c</body></html>""")
      .toDF("t").select(Curation.stripMarkup(col("t")).as("s")).as[String].collect()(0)
    assert(r == "Hi a b c")
  }

  test("hashSplit: deterministic, complete, near the requested fractions") {
    val split1 = Curation.hashSplit(docs, "doc_id").select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val split2 = Curation.hashSplit(docs.repartition(7), "doc_id").select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // identical assignment regardless of partitioning/evaluation
    assert(split1 == split2)
    val n = split1.size.toDouble
    val frac = split1.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(math.abs(frac("train") - 0.90) < 0.05, s"train fraction off: $frac")
    assert(frac.values.sum == 1.0)
  }

  test("hashSplit edge cases: 100% train, zero val, invalid sums rejected") {
    val all = Curation.hashSplit(docs, "doc_id", trainPct = 100, valPct = 0)
      .select("split").distinct().collect().map(_.getString(0)).toSet
    assert(all == Set("train"))
    val noVal = Curation.hashSplit(docs, "doc_id", trainPct = 90, valPct = 0)
      .select("split").distinct().collect().map(_.getString(0)).toSet
    assert(noVal == Set("train", "test"))
    intercept[IllegalArgumentException](Curation.hashSplit(docs, "doc_id", trainPct = 90, valPct = 20))
  }

  test("contaminationHits: verbatim benchmark overlap flagged, disjoint docs clean") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "entirely different words compose this unrelated document body"),
      (12L, "the quick brown fox appears here too with extras")
    ).toDF("doc_id", "text")
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val hits = Curation.contaminationHits(corpus, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.contains(10L) && hits.contains(12L) && !hits.contains(11L))
    // doc 10 contains all 7 benchmark trigrams; doc 12 shares 2
    assert(hits(10L) == 7L && hits(12L) == 2L)
  }

  test("packSequences: concat-then-chunk pack assignment per shard") {
    val df = (0L to 5L).map(i => (i, "x")).toDF("doc_id", "text")
    val packs = Curation.packSequences(df, "doc_id", lit(100L), budget = 250L, shards = 1)
      .select("doc_id", "pack_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // prev-cumsum: 0,100,200,300,400,500 -> packs 0,0,0,1,1,2
    assert(packs == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 2L))
    // sharding: a doc's pack depends only on its shard's prefix
    val sharded = Curation.packSequences(df, "doc_id", lit(100L), budget = 250L, shards = 2)
      .select("shard", "doc_id", "pack_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // shard 0: ids 0,2,4 -> prev 0,100,200 -> packs 0,0,0
    assert(sharded((0L, 0L)) == 0L && sharded((0L, 2L)) == 0L && sharded((0L, 4L)) == 0L)
    // shard 1: ids 1,3,5 -> prev 0,100,200 -> packs 0,0,0
    assert(sharded((1L, 5L)) == 0L)
  }

  test("langIdNgram: trigram profiles classify real sentences; junk is und") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val rows = Seq(
      (1L, "en", "the quick brown fox is jumping over the lazy dog in the morning"),
      (2L, "de", "der schnelle braune fuchs springt über den faulen hund und das ist schön"),
      (3L, "es", "el zorro marrón salta sobre el perro perezoso que duerme en la casa"),
      (4L, "fr", "le renard brun saute par dessus le chien paresseux dans une maison"),
      (5L, "und", "zzz qqq xxx 12345")
    ).toDF("doc_id", "expected", "text")
    val got = TextAnalysis.langIdNgram(rows, "text", "pred")
      .select(col("doc_id"), col("expected"), col("pred"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    got.foreach { case (id, exp, pred) =>
      assert(pred == exp, s"doc $id: expected $exp got $pred")
    }
    // determinism on ties: an empty-profile-overlap string always und
    assert(TextAnalysis.langIdNgram(rows.filter(col("doc_id") === 5L), "text")
      .select(col("pred_lang")).head().getString(0) == "und")
  }

  test("winnowFingerprints: MOSS guarantee, density, short-doc and sub-k rules") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // docs 1 and 2 share an 8-word run >= w+k-1 = 7, so the winnowing
    // guarantee (Schleimer et al. 2003, thm 1) demands a shared fingerprint
    val shared = "one two three four five six seven eight"
    val docs = Seq(
      (1L, s"prefix words sit here $shared and a tail"),
      (2L, s"$shared completely different ending tokens follow now"),
      (3L, "exactly four words here"), // k <= 4 words < k+w-1: short-doc rule, ONE fp
      (4L, "two words")               // < k words: no shingles, no fingerprints
    ).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(docs, "doc_id", "text", k = 4, w = 4).collect()
    val byDoc = fps.groupBy(_.getLong(0)).map { case (id, v) => id -> v.map(_.getString(1)).toSet }
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty,
      "a shared run of >= w+k-1 words must share a selected fingerprint")
    assert(byDoc(3L).size == 1, s"short doc keeps its single global min: ${byDoc.get(3L)}")
    assert(!byDoc.contains(4L), "doc shorter than k has no shingles")
    // density: winnowing SELECTS — a long doc keeps fewer fingerprints
    // than it has shingle positions
    val d1Grams = docs.filter(col("doc_id") === 1L).select(col("text")).head().getString(0)
      .split(" ").length - 3
    assert(byDoc(1L).size < d1Grams)
    // positions are real shingle offsets: doc 2's shared run starts at
    // position 1, so some selected fingerprint must sit in 1..5
    val d2Pos = fps.filter(_.getLong(0) == 2L).map(_.getLong(2))
    assert(d2Pos.exists(p => p >= 1 && p <= 5))
  }

  test("winnow kernel parity: deque selection equals the windowed-SQL reference row-for-row") {
    import graft.operators.TextAnalysis
    // adversarial shapes for the kernel's hand-derived rules: hash
    // ties from repeated shingles (ascending-pos tiebreak), runs of
    // one repeated word, docs at every boundary of k and w, and the
    // real corpus
    val tricky = Seq(
      (101L, "a a a a a a a a a a a a"),            // all shingles identical: max tie pressure
      (102L, "x y x y x y x y x y"),                 // period-2 ties
      (103L, "one two three four"),                  // exactly k words -> 1 shingle
      (104L, "one two three four five six"),         // nGrams < w: short-doc rule
      (105L, "one two three four five six seven"),   // nGrams == w
      (106L, ""), (107L, "sub k words")              // degenerate
    ).toDF("doc_id", "text")
    for ((kk, ww) <- Seq((4, 4), (3, 5), (2, 2), (5, 1))) {
      val kern = TextAnalysis.winnowFingerprints(tricky, "doc_id", "text", kk, ww)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val ref = TextAnalysis.winnowFingerprintsWindowed(tricky, "doc_id", "text", kk, ww)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(kern == ref, s"kernel != windowed reference at k=$kk w=$ww")
    }
    val kernC = TextAnalysis.winnowFingerprints(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val refC = TextAnalysis.winnowFingerprintsWindowed(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(kernC == refC, "kernel != windowed reference on the corpus")
  }

  test("winnowAgainstIndex: planted copied run matched against the persisted index, batch-scaled") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (10L, s"corpus document starts here $run and then some unique corpus tail"),
      (11L, "a completely unrelated corpus document about other things entirely")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (100L, s"fresh batch words $run trailing batch material here"),
      (101L, "novel batch content sharing nothing with anything stored")
    ).toDF("doc_id", "text")
    val idx = TextAnalysis.buildWinnowIndex(corpus, "doc_id", "text")
    val got = TextAnalysis.winnowAgainstIndex(batch, "doc_id", "text", idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the 10-word copied run (>= w+k-1) forces shared fingerprints;
    // with 7 shared shingle positions, >= 2 distinct mins survive
    assert(got.length == 1 && got(0)._1 == 100L && got(0)._2 == 10L && got(0)._3 >= 2L,
      got.mkString(","))
  }

  test("sparseCosineJoin: identical docs cos=1 exactly, sub-threshold and df-capped pairs drop") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark scala engine"), (2L, "spark scala engine"),   // identical -> cosine 1
      (3L, "totally different words entirely"),
      (4L, "common common common"), (5L, "common unrelated thing")
    ).toDF("doc_id", "text")
    val got = Dedup.sparseCosineJoin(docs, "doc_id", "text", tauBp = 9000, maxDf = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // identical docs: dot == na2 == nb2, so cos2_x1e8 is exactly 1e8
    assert(got.toSeq == Seq((1L, 2L, 100000000L)),
      s"only the identical pair passes tau=0.9; (4,5) shares one term at cos~0.33: ${got.toSeq}")
    // df cap excludes the vector space itself: maxDf=1 kills every
    // shared term, so NO pair survives even at tau~0
    assert(Dedup.sparseCosineJoin(docs, "doc_id", "text", tauBp = 1, maxDf = 1L).count() == 0)
  }

  test("clipDedup: copied span clipped from the LATER doc only; unique prose kept verbatim") {
    import spark.implicits._
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val run8 = "a b c d e f g h" // exactly one 8-token window
    val docs = Seq(
      (1L, s"$run8 unique one tail"),
      (2L, s"prefix two $run8 suffix bits"),
      (3L, "wholly original words nothing shared here at all")
    ).toDF("doc_id", "text")
    val got = Curation.clipDedup(docs, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1 saw every window first: nothing clipped, hash of own text
    assert(got(1L) == ((11L, 0L, md5hex(s"$run8 unique one tail"))))
    // doc 2: only the verbatim run8 window (start 2) is shared ->
    // tokens 2..9 clipped, surrounding unique prose survives
    assert(got(2L) == ((12L, 8L, md5hex("prefix two suffix bits"))), got(2L).toString)
    assert(got(3L)._2 == 0L)
  }

  test("chunkOverlap: strided chunks with overlap, short tail, content-hash identity") {
    import spark.implicits._
    val words100 = (1 to 100).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, words100), (2L, "a b c")).toDF("doc_id", "text")
    val got = Curation.chunkOverlap(docs, "doc_id", "text", chunkTokens = 64, stride = 48).collect()
    val d1 = got.filter(_.getLong(0) == 1L).map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // starts at 1, 49, 97: full 64, remainder 52, tail 4 — consecutive
    // chunks overlap by chunkTokens - stride = 16 tokens
    assert(d1.toSeq == Seq((0L, 1L, 64L), (1L, 49L, 52L), (2L, 97L, 4L)))
    val d2 = got.filter(_.getLong(0) == 2L)
    assert(d2.length == 1 && d2(0).getLong(3) == 3L)
    // the chunk hash is the md5 of the joined slice — doc 2's single
    // chunk is the whole (normalized) text
    val md5abc = java.security.MessageDigest.getInstance("MD5")
      .digest("a b c".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(d2(0).getString(4) == md5abc)
  }

  test("repetitionStats: known repetition fractions, bigram window correct") {
    import graft.operators.TextAnalysis
    // "a b a b a" -> words=5, top word 'a' x3; bigrams: "a b","b a","a b","b a" -> top rep 2 of 4
    val df = Seq((1L, "a b a b a"), (2L, "one"), (3L, "x x x x")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got(0) == ((1L, 5L, 3L, 2L, 6000L, 5000L, 6000L))) // dup words: 5-2 distinct = 3 -> 6000bp
    assert(got(1) == ((2L, 1L, 1L, 0L, 10000L, 0L, 0L)))      // single word: no bigrams, no dups
    assert(got(2) == ((3L, 4L, 4L, 3L, 10000L, 10000L, 7500L))) // "x x x" bigram 3 of 3
  }

  test("tfidfTop: rare high-tf terms outrank common ones; ties break on term") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "common rare rare rare common zz"),
      (2L, "common other other zz"),
      (3L, "common third zz")
    ).toDF("doc_id", "text")
    val top = TextAnalysis.tfidfTop(df, "doc_id", "text", topK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(5)))
    // doc 1: rare tf=3 df=1 -> 3e6; common tf=2 df=3 -> 666666
    assert(top.filter(_._1 == 1L).map(t => (t._3, t._4)).toSeq ==
      Seq(("rare", 3000000L), ("common", 666666L)))
    // doc 3: third (1e6) then common/zz tie at 333333 -> 'common' wins alphabetically
    assert(top.filter(_._1 == 3L).map(_._3).toSeq == Seq("third", "common"))
  }

  test("passageDupStats: shared 8-word passage detected, short tails ignored") {
    import graft.operators.Dedup
    val shared = "one two three four five six seven eight"
    val df = Seq(
      (1L, s"$shared alpha beta gamma delta epsilon zeta eta theta tail-ignored"),
      (2L, s"$shared completely different second half here now ok yes"),
      (3L, "entirely unrelated words that appear exactly once each time")
    ).toDF("doc_id", "text")
    val got = Dedup.passageDupStats(df, "doc_id", "text", window = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // docs 1/2: 2 passages each, first one shared; doc 3: 1 passage (9 words -> 1), unshared
    assert(got == Seq((1L, 2L, 1L, 5000L), (2L, 2L, 1L, 5000L), (3L, 1L, 0L, 0L)))
  }

  test("stratifiedSample: deterministic, rate-0 drops stratum, rate-10000 keeps it whole") {
    val s1 = Curation.stratifiedSample(docs, "doc_id", "lang", Map("en" -> 0, "de" -> 10000, "fr" -> 3000))
    val s2 = Curation.stratifiedSample(docs.repartition(5), "doc_id", "lang", Map("en" -> 0, "de" -> 10000, "fr" -> 3000))
    val ids1 = s1.select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids1 == s2.select("doc_id").as[Long].collect().sorted.toSeq, "must not depend on partitioning")
    val byLang = s1.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val inLang = docs.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byLang.contains("en"))
    assert(byLang("de") == inLang("de"))
    assert(byLang("fr") < inLang("fr") && byLang("fr") > 0)
    // sampling must not correlate with the train/val/test split: the
    // salted hash keeps roughly trainPct% of the sampled fr docs in train
    val frTrain = Curation.hashSplit(s1.filter(col("lang") === "fr"), "doc_id")
      .filter(col("split") === "train").count()
    assert(frTrain > 0 && frTrain < inLang("fr"))
  }

  test("percentileGate: integer rank math matches percent_rank semantics, ties on id") {
    val df = Seq(
      (1L, "a", 10L), (2L, "a", 20L), (3L, "a", 30L), (4L, "a", 40L), (5L, "a", 50L),
      (6L, "b", 7L), (7L, "b", 7L) // tie -> id order decides ranks 1,2
    ).toDF("doc_id", "source", "n_chars")
    val got = Curation.percentileGate(df, "doc_id", "source", "n_chars", keepBp = 2500)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5)))
    // stratum a (n=5): percent_rank = (rnk-1)/4 -> keep iff rnk-1 >= 1 (0.25*4)
    assert(got.take(5).map(_._4).toSeq == Seq(0L, 1L, 1L, 1L, 1L))
    // stratum b (n=2): threshold 0.25*1 -> rnk 1 (pr 0) drops, rnk 2 (pr 1) keeps
    assert(got(5) == ((6L, 1L, 2L, 0L)) && got(6) == ((7L, 2L, 2L, 1L)))
    // keepBp=0 keeps everything; invalid bp rejected
    assert(Curation.percentileGate(df, "doc_id", "source", "n_chars", keepBp = 0)
      .agg(min(col("keep"))).collect()(0).getLong(0) == 1L)
    intercept[IllegalArgumentException](
      Curation.percentileGate(df, "doc_id", "source", "n_chars", keepBp = 10001))
  }

  test("percentileGate plan: one exchange serves both windows (shared stratum key)") {
    val plan = Curation.percentileGate(docs, "doc_id", "source", "n_chars")
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected a single shared shuffle, got $exchanges:\n${plan.take(2000)}")
  }

  test("lengthHistogram: floor bins, counts and mass exact") {
    val df = Seq(("en", 0L), ("en", 199L), ("en", 200L), ("de", 450L)).toDF("lang", "n_chars")
    val got = Curation.lengthHistogram(df, "lang", "n_chars", binWidth = 200L)
      .orderBy("lang", "bin").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(("de", 2L, 1L, 450L), ("en", 0L, 2L, 199L), ("en", 1L, 1L, 200L)))
    intercept[IllegalArgumentException](Curation.lengthHistogram(df, "lang", "n_chars", binWidth = 0L))
  }

  test("topBigrams: zip-with-tail bigrams, deterministic tiebreak, single-word docs contribute none") {
    import graft.operators.TextAnalysis
    val df = Seq("b a b a", "b a", "solo", "a b").toDF("text")
    val got = TextAnalysis.topBigrams(df, "text", topK = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // "b a": docs 1 (x2) + 2 -> 3; "a b": docs 1 + 4 -> 2; "solo" contributes nothing
    assert(got == Seq(("b a", 3L), ("a b", 2L)))
  }

  test("topBigrams plan: global top-k is TakeOrdered, not a full sort") {
    import graft.operators.TextAnalysis
    val plan = TextAnalysis.topBigrams(docs, "text").queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("decontam plan: benchmark side broadcasts (no full-corpus shuffle for the eval set)") {
    val plan = Curation.contaminationHits(
      docs.filter(col("doc_id") >= 5), docs.filter(col("doc_id") < 5), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan.take(2000))
  }

  test("canonicalizeUrl: RFC-shaped normalization fixtures") {
    import spark.implicits._
    import graft.operators.Curation
    val cases = Seq(
      // scheme+host case-folded, default port dropped, params sorted,
      // tracking stripped, fragment dropped, trailing slash stripped
      ("HTTP://WWW.Ex.COM:80/A/b/?utm_source=x&b=2&a=1#frag", "http://www.ex.com/A/b?a=1&b=2"),
      ("https://ex.com:443/path", "https://ex.com/path"),
      // non-default port and path/query case are SIGNIFICANT
      ("https://ex.com:8080/Path?Q=V", "https://ex.com:8080/Path?Q=V"),
      // all-tracking query vanishes entirely
      ("https://ex.com/p?utm_campaign=c&fbclid=z&gclid=g&ref=r", "https://ex.com/p"),
      // bare host gets the root path; root slash never stripped
      ("https://Ex.Com", "https://ex.com/"),
      ("https://ex.com/", "https://ex.com/"),
      ("https://ex.com/?b=2&a=1", "https://ex.com/?a=1&b=2")
    )
    val got = cases.map(_._1).toDF("url")
      .select(Curation.canonicalizeUrl(col("url")).as("c"))
      .collect().map(_.getString(0)).toSeq
    got.zip(cases).foreach { case (g, (in, want)) =>
      assert(g == want, s"canonicalizeUrl($in) = $g, want $want")
    }
    // idempotence: canonical of canonical is itself
    val twice = cases.map(_._2).toDF("url")
      .select(Curation.canonicalizeUrl(col("url")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(twice == cases.map(_._2), "canonicalization must be idempotent")
  }

  test("temperatureAllocate: exact budget, sqrt flattening, deterministic remainders") {
    import spark.implicits._
    // skewed strata: head domain 10000 docs, torso 400, tail 9 singleton-ish
    val docs = (
      (1 to 10000).map(i => (i, "head")) ++
      (1 to 400).map(i => (i + 20000, "torso")) ++
      (1 to 9).flatMap(j => (1 to (j + 1)).map(i => (i + 30000 + j * 100, s"tail$j")))
    ).toDF("doc_id", "source")
    val budget = 777L // prime-ish so remainders actually fire
    val out = Curation.temperatureAllocate(docs, "source", budget)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // exact apportionment: allocations sum to the budget, not approximately
    assert(out.map(_._4).sum == budget, s"alloc sum ${out.map(_._4).sum} != $budget")
    // sqrt temperature: head/torso doc ratio is 25x but weight ratio must be 5x
    val head = out.find(_._1 == "head").get
    val torso = out.find(_._1 == "torso").get
    assert(head._3 == 100 && torso._3 == 20, s"isqrt weights wrong: $head $torso")
    // every stratum with at least one doc gets weight >= 1 (tail not starved of weight)
    assert(out.forall(_._3 >= 1))
    val out2 = Curation.temperatureAllocate(docs, "source", budget)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out2.toSeq == out.toSeq, "apportionment must be deterministic")
  }

  test("weightedSample: weight-proportional inclusion, deterministic, exact k") {
    import spark.implicits._
    // 1000 light docs (weight 10) + 1000 heavy docs (weight 1000):
    // heavy docs must dominate the sample ~100:1 per Ohlsson priorities
    val docs = ((0 until 1000).map(i => (i.toLong, 10L)) ++
      (1000 until 2000).map(i => (i.toLong, 1000L))).toDF("doc_id", "n_chars")
    val got = Curation.weightedSample(docs, "doc_id", "n_chars", k = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 100, "must return exactly k rows")
    val heavy = got.count(_._2 == 1000L)
    assert(heavy >= 90, s"heavy docs should dominate the weighted sample, got $heavy/100")
    val got2 = Curation.weightedSample(docs.orderBy(col("doc_id").desc), "doc_id", "n_chars", k = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got2.toSeq == got.toSeq, "sample must be input-order independent")
  }

  test("dupSpanStats: planted copied span found with exact run length; originals clean") {
    import spark.implicits._
    // doc 1: 20 unique words. doc 2: 8 fresh words, then words 5..14 of
    // doc 1 (10 words -> 3 consecutive shared 8-grams), then 6 fresh.
    val w1 = (0 until 20).map(i => s"a$i")
    val d2 = (0 until 8).map(i => s"b$i") ++ w1.slice(5, 15) ++ (0 until 6).map(i => s"c$i")
    val docs = Seq((1L, w1.mkString(" ")), (2L, d2.mkString(" ")), (3L, "short text")).toDF("doc_id", "text")
    val got = Curation.dupSpanStats(docs, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1: 13 windows, none shared (it is first)
    assert(got(0) == ((1L, 13L, 0L, 0L)), got(0).toString)
    // doc 2: 24 words -> 17 windows; shared windows are exactly the 3
    // fully-inside-the-copied-span positions (8..10), one island of 3
    assert(got(1) == ((2L, 17L, 3L, 3L)), got(1).toString)
    // doc 3: < 8 words -> zero windows
    assert(got(2) == ((3L, 0L, 0L, 0L)), got(2).toString)
  }

  test("shuffleShards: shards partition the corpus, order is deterministic and salt-independent of membership") {
    import spark.implicits._
    val docs = (0L until 300L).map(i => (i, 10 + i % 7)).toDF("doc_id", "n_chars")
    val a = Curation.shuffleShards(docs, "doc_id", "n_chars", nShards = 8).collect()
    assert(a.map(_.getLong(1)).sum == 300L, "shards must partition the corpus")
    assert(a.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 8))
    // re-run: byte-identical card (shard membership AND order)
    val b = Curation.shuffleShards(docs, "doc_id", "n_chars", nShards = 8).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq, "shuffle must be deterministic")
    // order checksum is order-SENSITIVE: a different position salt
    // (different permutation, same membership) must move checksums
    val hs = conv(substring(md5(concat(col("doc_id").cast("string"), lit(":s"))), 1, 8), 16, 10).cast("long")
    val shardOf = docs.select((hs % 8).as("shard")).groupBy("shard").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    a.foreach(r => assert(shardOf(r.getLong(0)) == r.getLong(1), "membership must follow the shard hash"))
  }

  test("ngramNovelty: first doc owns every shingle, an exact copy scores zero") {
    import spark.implicits._
    // doc 1: 6 words -> 2 distinct 5-shingles; doc 2 identical -> 0 novel;
    // doc 3 shares a 5-word suffix start -> partial novelty
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f"),
      (3L, "b c d e f g")).toDF("doc_id", "text")
    val got = Curation.ngramNovelty(docs, "doc_id", "text", n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc1 shingles {abcde, bcdef} both novel; doc2 {abcde, bcdef} none novel;
    // doc3 {bcdef, cdefg}: bcdef seen in doc1, cdefg novel -> 500000 ppm
    assert(got.toSeq == Seq((1L, 2L, 2L, 1000000L), (2L, 2L, 0L, 0L), (3L, 2L, 1L, 500000L)))
  }

  test("fuzzyContamination: exact Jaccard ppm on hand-built shingle overlaps") {
    import spark.implicits._
    // corpus doc 1 "a b c d" -> {abc,bcd}; doc 2 "x y z w" -> {xyz,yzw}
    // eval doc 0 "a b c q" -> {abc,bcq}: doc1 shares 1 of 3 distinct
    val corpus = Seq((1L, "a b c d"), (2L, "x y z w")).toDF("doc_id", "text")
    val eval_ = Seq((0L, "a b c q")).toDF("doc_id", "text")
    val got = Curation.fuzzyContamination(corpus, eval_, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 0L, 1L, 333333L)))
    // identical doc scores 1e6 exactly and outranks the partial match
    val got2 = Curation
      .fuzzyContamination(corpus.union(Seq((3L, "a b c q")).toDF("doc_id", "text")),
        eval_, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(got2.toSeq == Seq((3L, 1000000L), (1L, 333333L)))
  }

  test("gopherGate: each rule trips on its staged violator; a clean long doc keeps") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val good = ((1 to 60).map(i => s"word$i") ++ Seq("the", "and", "of")).mkString(" ")
    val rows = Seq(
      (1L, good),                                          // passes every rule
      (2L, "too short but the and of"),                    // r_words (6 < 50)
      (3L, good.replace("word1", "a" * 800)),              // r_mwl (mean length > 10)
      (4L, good + " " + ("# " * 20).trim),                 // r_hash (20 hashes / 83 words)
      (5L, good + " " + ("... " * 20).trim),               // r_ellipsis
      (6L, (1 to 60).map(i => s"- item$i the and of").mkString("\n")), // r_bullet (all lines)
      (7L, (1 to 60).map(i => s"line$i the and of...").mkString("\n")), // r_ell_line (all lines)
      (8L, ((1 to 60).map(_ => "123 456") :+ "the and of").mkString(" ")), // r_alpha (3/123 alpha)
      (9L, (1 to 60).map(i => s"word$i").mkString(" "))    // r_stop (0 gopher stop words)
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherGate(rows, "doc_id", "text").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(r.fieldIndex("keep")))).toMap
    assert(got(1L) == 1L, "clean doc must keep")
    (2L to 9L).foreach(id => assert(got(id) == 0L, s"doc $id should fail its staged rule"))
    // and the per-rule flags blame the right rule for two spot checks
    val flags = TextAnalysis.gopherGate(rows, "doc_id", "text").orderBy("doc_id").collect()
    def f(id: Long, c: String) = flags.find(_.getLong(0) == id).get
      .getLong(flags.head.fieldIndex(c))
    assert(f(2L, "r_words") == 0L && f(2L, "r_mwl") == 1L)
    assert(f(6L, "r_bullet") == 0L && f(6L, "r_words") == 1L)
    assert(f(8L, "r_alpha") == 0L)
    assert(f(9L, "r_stop") == 0L)
  }

  test("clusterKeepBest: the longest member survives, not the min id; ties break to min id") {
    import spark.implicits._
    import graft.operators.Dedup
    // ids chosen so min-id != longest: doc 10 is a truncated copy of
    // doc 20 (same shingles via containment? no — stage via pairs)
    val docs = Seq(
      (10L, "alpha beta gamma"),                // 3 words, same cluster as 20
      (20L, "alpha beta gamma delta epsilon"),  // 5 words — must win despite larger id
      (30L, "zeta eta"), (31L, "zeta eta")      // tie on words -> min id 30 wins
    ).toDF("doc_id", "text")
    val pairs = Seq((10L, 20L), (30L, 31L)).toDF("id_a", "id_b")
    val got = Dedup.clusterKeepBest(docs, "doc_id", "text", pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (10L, 10L, 3L, 0L), (20L, 10L, 5L, 1L),
      (30L, 30L, 2L, 1L), (31L, 30L, 2L, 0L)), got.mkString(","))
  }

  test("clusterKeepBest: the windowed pick equals a plain-Scala argmax on seeded clusters with n_words ties") {
    import spark.implicits._
    import graft.operators.Dedup
    for (seed <- Seq(21, 22)) {
      val rnd = new scala.util.Random(seed)
      // clusters of 1..6 members on shuffled, non-contiguous ids, each
      // joined by a random spanning tree; 1..3 words per doc, so most
      // clusters tie on n_words
      val ids = rnd.shuffle((1 to 80).map(i => 5L * i + rnd.nextInt(5)))
      val clusters = Iterator.unfold(ids) { rest =>
        if (rest.isEmpty) None else { val k = 1 + rnd.nextInt(6); Some(rest.splitAt(k)) }
      }.toSeq
      val pairs = clusters.flatMap(c => (1 until c.length).map(i => (c(rnd.nextInt(i)), c(i))))
      val nWords = ids.map(id => id -> (1 + rnd.nextInt(3)).toLong).toMap
      val docs = ids.map(id => (Option(id), Seq.fill(nWords(id).toInt)("w").mkString(" "))) :+
        ((None, "a row with no id"))
      val expected = clusters.flatMap { c =>
        val best = c.minBy(id => (-nWords(id), id))
        c.map(id => (id, c.min, nWords(id), if (id == best) 1L else 0L))
      }.sortBy(_._1)
      val got = Dedup.clusterKeepBest(docs.toDF("doc_id", "text"), "doc_id", "text",
          rnd.shuffle(pairs).toDF("id_a", "id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got == expected, s"seed $seed")
    }
  }
}
