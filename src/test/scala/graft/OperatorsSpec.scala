package graft

import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Dedup, Multimodal, Similarity, TextAnalysis}

/** Crafted-fixture specs for the LLM-pipeline operators: known
  * duplicates, known nearest neighbors, known token statistics. */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private val repeatedA = Array.fill(40)("alpha beta gamma delta").mkString(" ")
  // one appended token: shares 4 of its 5 distinct shingles with A → 0.8
  private val repeatedB = repeatedA + " omega"

  private lazy val docsDir = fixtureDir(
    "documents" -> Seq(
      (0L, repeatedA, "en", "src0", repeatedA.length.toLong),
      (1L, repeatedA, "en", "src1", repeatedA.length.toLong), // exact dup of 0
      (2L, repeatedB, "de", "src2", repeatedB.length.toLong), // near dup of 0
      (3L, "the quick brown fox jumps over the lazy dog", "fr", "src0", 43L),
      (4L, "zz", "es", "src1", 2L), // < 3 tokens → no shingles
      (5L, "Hello, World! DELTA-PRIME 42", "en", "src2", 28L), // case+punct
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
  private lazy val embDir = fixtureDir(
    "embeddings" -> Seq(
      (0L, vec(1, 0, 0, 0), 0),
      (1L, vec(1, 0, 0, 0), 0),     // identical to the query → cos 1.0
      (2L, vec(0.9, 0.1, 0, 0), 0), // close
      (3L, vec(0, 1, 0, 0), 1),     // orthogonal
      (4L, vec(-1, 0, 0, 0), 1),    // opposite
    ).toDF("vec_id", "embedding", "label"))

  test("exact dedup groups identical texts") {
    val rows = Dedup.exact(spark, docsDir).collect()
    assert(rows.length == 5) // 6 docs, one pair collapsed
    val dup = rows.find(_.getLong(1) == 2L).get
    assert(dup.getLong(2) == 0L) // first_doc_id = min
  }

  test("ngram jaccard finds exact and near duplicates, skips short docs") {
    val pairs = Dedup.ngramJaccard(spark, docsDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) == 1.0) // exact dup
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) > 0.5) // near dup
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L)) // no shingles
  }

  test("minhash LSH candidates cover every true near-duplicate pair (no false negatives here)") {
    val truth = Dedup.ngramJaccard(spark, docsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.minhashLsh(spark, docsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.subsetOf(cand))
  }

  test("native MinhashSig60 ≡ the declarative md5 chain, row for row (incl. shingle-less docs)") {
    // the one-pass native signature must reproduce the exploded
    // md5hash60 + groupBy-min chain EXACTLY — same shingles, same
    // Kirsch–Mitzenmacher arithmetic, same dropped <3-token docs —
    // because the whole *_md5 family's DuckDB oracles replay the
    // declarative form. docsDir includes an empty/short doc (id 4),
    // pinning the empty-signature edge; sf0.001 pins organic text.
    for (d <- Seq(docsDir, sf("sf0.001"))) {
      def key(r: org.apache.spark.sql.Row) =
        (0 until r.length).map(r.get).mkString("|")
      val native = Dedup.md5SigOf(spark, d, 16).collect().map(key).sorted
      val twin = Dedup.md5MinhashSig(Dedup.md5Shingles(spark, d), 16)
        .collect().map(key).sorted
      assert(native.nonEmpty)
      assert(native.toSeq == twin.toSeq)
    }
  }

  test("simhash pairs identical docs at hamming 0") {
    val rows = Dedup.simhash(spark, docsDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(rows((0L, 1L)) == 0)
  }

  test("embedding near-dup finds the identical pair, not the orthogonal one") {
    val pairs = Dedup.embeddingCosine(spark, embDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 3L)) && !pairs.contains((0L, 4L)))
  }

  test("knn ranks identical > close > orthogonal > opposite") {
    val got = Similarity.knn(spark, embDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).toList == List(1L, 2L, 3L, 4L))
    assert(got.head._2 == 1.0 && got.last._2 == -1.0)
  }

  test("qualityLogit: exact integer gate — each feature flips its arm; model parity") {
    val diverse = (1 to 40).map(i => s"t$i").mkString(" ")
    val d = fixtureDir("documents" -> Seq(
      (1L, "the a of and is the a of and is", "en", "s", 1L), // stopwords carry it
      (2L, ("x " * 40).trim, "en", "s", 1L),  // 39 dups: penalty buries ln(40)
      (3L, "solo", "en", "s", 1L),            // ln(1)=0 → z = -2 exactly
      (4L, diverse, "en", "s", 1L))           // ln(40) alone clears the bar
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val r = TextAnalysis.qualityLogit(spark, d).collect()
      .map(x => x.getLong(0) ->
        ((x.getInt(1), x.getLong(2), x.getDouble(3), x.getBoolean(4)))).toMap
    // driver model with the same fixed-point contract
    val stop = Set("the", "a", "of", "and", "is")
    def model(text: String) = {
      val ts = text.split(" ")
      val n = ts.length
      val sC = ts.count(stop); val dC = n - ts.distinct.length
      val lnfp = math.floor(math.log(n) * 1000000 + 0.5).toLong
      val z = -20000000L * n + 6L * n * lnfp + 30000000L * sC - 10000000L * dC
      val p = BigDecimal(1.0 / (1.0 + math.exp(-z.toDouble / (n * 1e7))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (n, z, p, z >= 0)
    }
    assert(r(1L) == model("the a of and is the a of and is") && r(1L)._4)
    assert(r(2L) == model(("x " * 40).trim) && !r(2L)._4)
    assert(r(3L) == ((1, -20000000L, model("solo")._3, false)))
    assert(r(4L) == model(diverse) && r(4L)._4)
  }

  test("language id picks the lexicon argmax, und on no hits") {
    val rows = TextAnalysis.langId(spark, docsDir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rows(3L) == "en") // 'the' ×2, 'a' appears? 'the' dominates
    assert(rows(4L) == "und") // 'zz' hits nothing
  }

  test("token counts: whitespace vs BPE-ish regex") {
    val r = TextAnalysis.tokenCount(spark, docsDir).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(r(3L)._1 == 9) // 9 whitespace tokens
    assert(r(4L) == ((1, 1)))
    // doc 5: case + punctuation splinter into more BPE pieces than ws tokens
    assert(r(5L)._2 > r(5L)._1)
  }

  test("normalize: NFC merges composition forms raw md5 keeps apart; case/whitespace fold; already-clean text unchanged") {
    import spark.implicits._
    val nfc = "café déjà vu" // precomposed é/é/à
    val nfd = "café déjà vu" // e + combining marks
    assert(nfc != nfd) // byte-different inputs, same text
    val fix = Seq(
      (0L, nfc, "fr", "s", nfc.length.toLong),
      (1L, nfd, "fr", "s", nfd.length.toLong), // NFC-merges with 0
      (2L, "Café  DÉJÀ \t vu ", "fr", "s", 18L), // case + runs + edges
      (3L, "already clean text", "en", "s", 18L),
      (4L, "unrelated", "en", "s", 9L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = fixtureDir("documents" -> fix)
    val norm = TextAnalysis.textNormalize(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    assert(norm(0L)._1 == nfc && !norm(0L)._2) // NFC input untouched
    assert(norm(1L) == ((nfc, true)))          // NFD composed to the same bytes
    assert(norm(2L) == ((nfc, true)))          // case folded, runs collapsed, edges trimmed
    assert(norm(3L) == (("already clean text", false)))
    // the dedup twin merges all three variants into ONE group that raw
    // exact dedup keeps as three — the n_raw_variants column says so
    val groups = TextAnalysis.dedupNormalized(spark, d).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(groups.length == 3) // {0,1,2}, {3}, {4}
    assert(groups.contains((3L, 0L, 3L))) // 3 docs, first 0, 3 raw variants
    assert(Dedup.exact(spark, d).count() == 5) // raw md5: all distinct
  }

  test("fingerprint is content-sensitive and stable") {
    val fp = TextAnalysis.docFingerprint(spark, docsDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) == fp(1L)) // identical text → identical fingerprint
    assert(fp(0L) != fp(2L))
    assert(fp.values.forall(v => v >= 0 && v < 1000000007L))
  }

  test("fingerprint: the native expression is row-identical to the declarative fold the oracle replays") {
    // the docsDir fixture plus the organic corpus: both paths — the
    // codegen'd Fingerprint64 byte/codepoint loop and the
    // aggregate(split(text, '')) model twin — must agree on every row,
    // including the edges the fast path can get wrong: empty text
    // (split gives [""], ascii 0 → h stays 0), a multi-byte character
    // (the code-point fallback), and a long ASCII run
    import spark.implicits._
    val edge = Seq(
      (100L, "", "en", "s", 0L),
      (101L, "café naïve", "fr", "s", 10L),
      (102L, "a" * 5000, "en", "s", 5000L),
      (103L, "mixed ascii then ü then more", "de", "s", 29L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dEdge = fixtureDir("documents" -> edge)
    for (dir <- Seq(dEdge, sf("sf0.001"))) {
      val native = TextAnalysis.docFingerprint(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val model = TextAnalysis.docFingerprintModel(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(native == model, dir)
    }
    // and the empty-text row really is 0 (the [""]-vs-empty-fold edge)
    val fp = TextAnalysis.docFingerprint(spark, dEdge).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(100L) == 0L)
  }

  test("media pipeline: meta, frame sampling, and the stubbed decode agree on sizes") {
    val meta = Multimodal.mediaMeta(spark, docsDir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(meta(0L)._1 == "image" && meta(1L)._1 == "audio" && meta(2L)._1 == "video")
    assert(meta(3L)._2 == 43)

    val frames = Multimodal.mediaFrames(spark, docsDir).collect()
    assert(frames.length == 6 * 4) // 4 frames per doc
    // frames beyond the payload end hash the empty slice
    val empty = frames.filter(r => r.getLong(0) == 4L && r.getInt(1) > 0)
    assert(empty.forall(_.getString(2) == "d41d8cd98f00b204e9800998ecf8427e"))

    val feats = Multimodal.mediaFeatures(spark, docsDir).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(feats == meta.view.mapValues(_._2).toMap) // n_bytes agree
  }

  test("doc chunking: window/stride edges (exact-fit, short tail, sub-window doc)") {
    def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")
    val dir = fixtureDir("documents" -> Seq(
      (1L, words(32), "en", "s", 1L), // exact window + 8-token tail (stride 24 < 32)
      (2L, words(24), "en", "s", 1L), // exactly one stride → ONE chunk
      (3L, words(25), "en", "s", 1L), // one past the stride → 1-token tail chunk
      (4L, words(3), "en", "s", 1L)   // sub-window doc → one short chunk
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = Corpus.docChunks(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getInt(3))).toMap
    assert(rows.keySet == Set((1L, 0), (1L, 1), (2L, 0), (3L, 0), (3L, 1), (4L, 0)))
    assert(rows((1L, 0))._2 == 32 && rows((1L, 1))._2 == 8)
    assert(rows((1L, 1))._1.startsWith("w25 ")) // overlap starts at stride+1
    assert(rows((2L, 0))._2 == 24)
    assert(rows((3L, 1)) == ("w25", 1))
    assert(rows((4L, 0)) == ("w1 w2 w3", 3))
  }

  test("pii scrub masks emails before digit runs and counts both") {
    val dir = fixtureDir("events" -> Seq(
      (1L, new java.sql.Timestamp(0L), 1L, "x", 0.0,
        """{"email": "jane.doe+spam@corp-mail.example.org", "phone": 5551234567}"""),
      (2L, new java.sql.Timestamp(0L), 2L, "x", 0.0, "no pii here"),
      (3L, new java.sql.Timestamp(0L), 3L, "x", 0.0, null)
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val rows = Corpus.piiScrub(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getInt(3))).toMap
    // email masked as a unit (its digits must NOT leak into n_nums)
    assert(rows(1L) == ("""{"email": "<EMAIL>", "phone": <NUM>}""", 1, 1))
    assert(rows(2L) == ("no pii here", 0, 0))
    assert(!rows.contains(3L)) // null props filtered, not scrubbed to null
  }

  test("tiled embeddingCosine ≡ local brute force on a random multi-tile corpus") {
    // 40 random vectors at local[4] → nb = 3 blocks, 6 tiles: diagonal
    // AND off-diagonal tile paths both execute and must reproduce the
    // driver-side O(n²) reference exactly (same round6-at-threshold).
    val rnd = new scala.util.Random(42)
    val vecs = (0L until 40L).map { i =>
      val base = Array.fill(8)(rnd.nextGaussian().toFloat)
      (i, base)
    } ++ Seq((100L, vec(1, 2, 3, 4, 5, 6, 7, 8).map(_.toFloat)),
      (101L, vec(1, 2, 3, 4, 5, 6, 7, 8.001).map(_.toFloat))) // a guaranteed near-dup pair
    val dir = fixtureDir("embeddings" ->
      vecs.map { case (id, v) => (id, v, 0) }.toSeq.toDF("vec_id", "embedding", "label"))
    val got = Dedup.embeddingCosine(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // driver-side reference
    def dot(a: Array[Float], b: Array[Float]) =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    def norm(a: Array[Float]) = math.sqrt(dot(a, a))
    val want = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib
      c = BigDecimal(dot(va, vb) / (norm(va) * norm(vb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if c >= 0.9
    } yield (ia, ib) -> c).toMap
    assert(got == want)
    assert(got.contains((100L, 101L))) // the planted pair survived tiling
  }

  test("tiled knnJoin ≡ brute-force top-3 per vector on a multi-tile corpus") {
    // 30 vectors at local[4] → nb = 2 blocks, 4 tiles: the local
    // per-tile top-k must merge losslessly into the global top-3 under
    // the shared (round6 cos desc, id asc) total order.
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 30L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val dir = fixtureDir("embeddings" ->
      vecs.map { case (id, v) => (id, v, 0) }.toSeq.toDF("vec_id", "embedding", "label"))
    val got = operators.Similarity.knnJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> ((r.getLong(1), r.getDouble(2))))
    def dot(a: Array[Float], b: Array[Float]) =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    def norm(a: Array[Float]) = math.sqrt(dot(a, a))
    val want = vecs.flatMap { case (ia, va) =>
      vecs.filter(_._1 != ia).map { case (ib, vb) =>
        (ib, BigDecimal(dot(va, vb) / (norm(va) * norm(vb)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (id, c) => (-c, id) }.take(3).zipWithIndex
        .map { case ((ib, c), k) => (ia, k + 1) -> ((ib, c)) }
    }.toMap
    assert(got.length == 90) // 30 vectors × 3 ranked neighbors
    assert(got.toMap == want)
  }

  test("media_histdup: identical payloads share a bucket; the near-dup does not") {
    // docsDir has exactly one identical text pair (docs 0 and 1); the
    // one-token-appended near-dup must land in its own signature
    val r = Multimodal.mediaHistDup(spark, docsDir).collect()
    assert(r.length == 1)
    assert(r.head.getLong(1) == 2L)          // bucket of exactly the pair
    assert(r.head.getString(3) == "0,1")     // members
  }

  test("knnJoin: equal cosines rank by ascending neighbor id") {
    // embDir vectors 0 and 1 are identical → probe 2 sees an exact
    // cosine tie; the tie must break on the smaller neighbor id.
    val rows = operators.Similarity.knnJoin(spark, embDir).collect()
      .filter(_.getLong(0) == 2L).sortBy(_.getInt(3)).map(_.getLong(1)).toSeq
    assert(rows == Seq(0L, 1L, 3L))
  }

  test("knnJoinCell with one trained cell ≡ exact knnJoin (the lossless boundary)") {
    // 30 vectors → stride = max(50, 30/64) = 50 → seed grid {0} → nlist
    // = 1: every vector lands in the single cell, so the celled join's
    // candidate set IS the all-pairs set and the two operators must
    // agree row-for-row (same rounded grid, same tie order). This pins
    // the celled variant's ranking to the exact baseline exactly where
    // they provably coincide.
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 30L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val dir = fixtureDir("embeddings" ->
      vecs.map { case (id, v) => (id, v, 0) }.toSeq.toDF("vec_id", "embedding", "label"))
    val exact = operators.Similarity.knnJoin(spark, dir).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val celled = operators.Similarity.knnJoinCell(spark, dir).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(celled == exact)
    // and the recall summary prices the (here: zero) loss coherently
    val rec = operators.Similarity.knnJoinRecall(spark, dir).collect().head
    assert(rec.getAs[Long]("n_exact") == 90L)
    assert(rec.getAs[Long]("n_hit") == 90L)
    assert(rec.getAs[Double]("recall") == 1.0)
  }

  test("knnJoinCell: every edge stays inside the probe's own trained cell") {
    // real multi-cell corpus (sf0.001: 500 vecs, 10 seeds): the celled
    // join may only ever pair cell-mates — a cross-cell edge means the
    // cell key leaked out of the join — and each vector's ranks are
    // consecutive from 1 over its ≤3 emitted neighbors.
    val d = sf("sf0.001")
    val cells = operators.Similarity.ivfIndex(spark, d)._2.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = operators.Similarity.knnJoinCell(spark, d).collect()
    assert(rows.nonEmpty)
    for (r <- rows)
      assert(cells(r.getLong(0)) == cells(r.getLong(1)),
        s"cross-cell edge ${r.getLong(0)}->${r.getLong(1)}")
    val ranks = rows.groupBy(_.getLong(0))
      .map { case (_, g) => g.map(_.getInt(3)).sorted.toSeq }
    assert(ranks.forall(rs => rs == (1 to rs.length)))
    // recall coherence on the same corpus: the exact edge set is the
    // denominator, hits are the intersection — recomputed independently
    val exactE = operators.Similarity.knnJoin(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val celledE = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val rec = operators.Similarity.knnJoinRecall(spark, d).collect().head
    assert(rec.getAs[Long]("n_exact") == exactE.size.toLong)
    assert(rec.getAs[Long]("n_hit") == (exactE & celledE).size.toLong)
    assert(rec.getAs[Double]("recall") ==
      BigDecimal((exactE & celledE).size.toDouble / exactE.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("knnJoinSalted ≡ knnJoinCell row-for-row, also under forced multi-block tiling") {
    import spark.implicits._
    val d = sf("sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val celled = rows(operators.Similarity.knnJoinCell(spark, d))
    // default block budget: every sf0.001 cell fits one block → nb=1,
    // zero replication, and the tiled result must still be identical
    assert(rows(operators.Similarity.knnJoinSalted(spark, d)) == celled)
    // forced tiny blocks: every real cell splits into several tiles —
    // the two-level top-k merge must stay lossless
    spark.conf.set("spark.graft.knn.cellBlockRows", "7")
    try assert(rows(operators.Similarity.knnJoinSalted(spark, d)) == celled)
    finally spark.conf.unset("spark.graft.knn.cellBlockRows")
  }

  test("knnJoinSalted: a corpus collapsed into one giant cell tiles losslessly") {
    // the SkewStress pathology in miniature: 54 of 60 vectors share ONE
    // embedding (the empty-document direction), so training's tie-break
    // (higher centroid id wins on equal cosine) funnels them into a
    // single cell; with an 8-row block budget that cell tiles 7×7 and
    // the salted result must still equal the single-task celled plan,
    // massive cosine ties (all 1.0, rank by id) included.
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val u = Array.fill(8)(rnd.nextGaussian().toFloat)
    val vecs = (0L until 60L).map { i =>
      if (i % 10L != 0L) (i, u, 0)
      else (i, Array.fill(8)(rnd.nextGaussian().toFloat), 1)
    }
    val dir = fixtureDir("embeddings" ->
      vecs.toSeq.toDF("vec_id", "embedding", "label"))
    val cellSizes = operators.Similarity.ivfIndex(spark, dir)._2
      .groupBy("cell").count().collect().map(_.getLong(1))
    assert(cellSizes.max >= 54L, cellSizes.toSeq) // the skew materialized
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val celled = rows(operators.Similarity.knnJoinCell(spark, dir))
    spark.conf.set("spark.graft.knn.cellBlockRows", "8")
    try assert(rows(operators.Similarity.knnJoinSalted(spark, dir)) == celled)
    finally spark.conf.unset("spark.graft.knn.cellBlockRows")
  }

  /** Rounded cosine on the 1e-6 grid — model twin of Similarity.cosine
    * (same sequential fold, same HALF_UP edge). */
  private def cos6d(a: Seq[Double], b: Seq[Double]): Double = {
    def dot(x: Seq[Double], y: Seq[Double]) =
      x.zip(y).map { case (p, q) => p * q }.sum
    BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  private def lift(v: Seq[Float]): Seq[Double] = v.map(_.toDouble)

  /** Model twin of Similarity.trainedCentroids: stride seed + IvfIters
    * Lloyd's rounds with scaled-long fixed-point means. */
  private def trainedCents(vecs: Seq[(Long, Seq[Float])]): Seq[(Long, Seq[Double])] = {
    val stride = operators.Similarity.ivfStride(vecs.size.toLong)
    var cents: Seq[(Long, Seq[Double])] =
      vecs.filter(_._1 % stride == 0).map { case (id, v) => id -> lift(v) }
    for (_ <- 1 to operators.Similarity.IvfIters) {
      val byCell = vecs.groupBy { case (_, v) =>
        cents.map { case (cid, cv) => (cos6d(lift(v), cv), cid) }.max._2
      }
      cents = byCell.toSeq.sortBy(_._1).map { case (cid, members) =>
        val dims = members.head._2.length
        cid -> (0 until dims).map { i =>
          val sx = members.map { case (_, v) =>
            BigDecimal(v(i).toDouble * 1e6)
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          }.sum
          sx.toDouble / (1e6 * members.size)
        }
      }
    }
    cents
  }

  /** Model twin of Similarity.panelFilter: the offset sample with
    * centroid-seed ids excluded explicitly. */
  private def panelOf(vecs: Seq[(Long, Seq[Float])]): Seq[(Long, Seq[Float])] = {
    val n = vecs.size.toLong
    vecs.filter { case (id, _) =>
      id % operators.Similarity.panelStride(n) == operators.Similarity.PanelOffset &&
        id % operators.Similarity.ivfStride(n) != 0
    }
  }

  /** Model assignment over the trained set (tie → larger centroid id). */
  private def cellOf(vecs: Seq[(Long, Seq[Float])],
      cents: Seq[(Long, Seq[Double])]): Map[Long, Long] =
    vecs.map { case (id, v) =>
      id -> cents.map { case (cid, cv) => (cos6d(lift(v), cv), cid) }.max._2
    }.toMap

  /** Driver-side model of the recall-panel pipeline: same trained
    * centroids/panel, same rounded-cosine grid, same tie-breaks
    * (assignment max → larger centroid id; probe/top-k → ascending id). */
  private def recallModel(vecs: Seq[(Long, Seq[Float])]): (Int, Long, Long, Long, Double) = {
    val cents = trainedCents(vecs)
    val cell = cellOf(vecs, cents)
    val panel = panelOf(vecs)
    var nx = 0L; var nh = 0L
    panel.foreach { case (qid, qv) =>
      val exact = vecs.filter(_._1 != qid)
        .map { case (id, v) => (id, cos6d(lift(v), lift(qv))) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
      val probed = cents.map { case (cid, cv) => (cid, cos6d(lift(qv), cv)) }
        .sortBy { case (cid, c) => (-c, cid) }.take(2).map(_._1).toSet
      val approx = vecs
        .filter { case (id, _) => id != qid && probed(cell(id)) }
        .map { case (id, v) => (id, cos6d(lift(v), lift(qv))) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
      nx += exact.size; nh += exact.intersect(approx).size
    }
    (10, panel.size.toLong, nx, nh,
      BigDecimal(nh.toDouble / nx).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  private def runRecall(vecs: Seq[(Long, Seq[Float])]): (Int, Long, Long, Long, Double) = {
    val dir = fixtureDir("embeddings" ->
      vecs.map { case (id, v) => (id, v, 0) }.toDF("vec_id", "embedding", "label"))
    val r = operators.Similarity.annRecall(spark, dir).collect().head
    (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
  }

  test("annRecall: a true neighbor in an unprobed cell costs exactly its recall share") {
    // Panel = {17} (the seed-disjoint offset sample). The query probes
    // its own cell A and one other; a true top-10 neighbor living in
    // the unprobed third cell is the miss the panel must charge for.
    val high = Seq(0.95f, 0.05f, 0.1f, 0f)
    val junk = Seq(0.3f, 0f, 0.95f, 0f)
    val vecs: Seq[(Long, Seq[Float])] =
      Seq(0L -> Seq(1f, 0f, 0f, 0f),           // centroid-A seed
        17L -> Seq(0.995f, 0.1f, 0f, 0f),      // the panel query (cell A)
        50L -> Seq(0.71f, -0.71f, 0f, 0f),     // centroid-B seed
        100L -> Seq(0f, 1f, 0f, 0f),           // centroid-C seed
        70L -> Seq(0.6f, 0.75f, 0f, 0f),       // cell C, close to the query
        10L -> Seq(0.05f, 0f, 0.998f, 0f)) ++  // below the top-10 cut
        (1L to 5L).map(_ -> high) ++ (6L to 9L).map(_ -> junk)
    val want = recallModel(vecs)
    assert(runRecall(vecs) == want)
    // the panel is the offset sample (1 query) and imperfect (a miss exists)
    assert(want._2 == 1L && want._4 < want._3)
  }

  test("annRecall: probing every cell makes IVF lossless — recall exactly 1.0") {
    val vecs: Seq[(Long, Seq[Float])] =
      Seq(0L -> Seq(1f, 0f, 0f, 0f), 50L -> Seq(0f, 1f, 0f, 0f),
        17L -> Seq(0.8f, 0.6f, 0.1f, 0f)) ++   // the panel query
        (1L to 11L).map(i => i ->
          Seq(0.1f * (i % 4), 0.1f * ((i + 1) % 3), 1f, 0.01f * i))
    // 2 cells, nprobe = 2 → every cell probed for every panel query:
    // the approximate retrieval degenerates to exact, recall must be 1
    val got = runRecall(vecs)
    assert(got == recallModel(vecs))
    assert(got == ((10, 1L, 10L, 10L, 1.0)))
  }

  /** Model twin of Similarity.annFiltered: shared trained centroids /
    * panel / rounded grid; the corpus filter applies to BOTH sides,
    * the probe keeps the unfiltered geometry, one recall per nprobe. */
  private def filteredModel(vecs: Seq[(Long, Seq[Float], Int)]): Seq[(Int, Double)] = {
    val plain = vecs.map { case (id, v, _) => (id, v) }
    val cents = trainedCents(plain)
    val cell = cellOf(plain, cents)
    val panel = panelOf(plain)
    val fc = vecs.filter(_._3 == operators.Similarity.FilterLabel)
      .map { case (id, v, _) => (id, v) }
    operators.Similarity.FilteredNprobes.map { np =>
      var nx = 0L; var nh = 0L
      panel.foreach { case (qid, qv) =>
        val exact = fc.filter(_._1 != qid)
          .map { case (id, v) => (id, cos6d(lift(v), lift(qv))) }
          .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
        val probed = cents.map { case (cid, cv) => (cid, cos6d(lift(qv), cv)) }
          .sortBy { case (cid, c) => (-c, cid) }.take(np).map(_._1).toSet
        val approx = fc.filter { case (id, _) => id != qid && probed(cell(id)) }
          .map { case (id, v) => (id, cos6d(lift(v), lift(qv))) }
          .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
        nx += exact.size; nh += exact.intersect(approx).size
      }
      (np, BigDecimal(nh.toDouble / nx)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("annFiltered: one trained cell makes the filtered probe lossless at every nprobe") {
    // 30 vectors → stride 50 → single seed {0} → one cell: the probe
    // always covers the whole corpus, so filtered-approx ≡ filtered-
    // exact at both widths. Panel = {17} (label 7 ≠ FilterLabel); the
    // label-3 corpus is ids {3, 13, 23} → n_exact = 3 per row.
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 30L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat).toSeq, (i % 10).toInt))
    val dir = fixtureDir("embeddings" ->
      vecs.toDF("vec_id", "embedding", "label"))
    val rows = operators.Similarity.annFiltered(spark, dir).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(2, 4))
    for (r <- rows) {
      assert(r.getAs[Long]("n_queries") == 1L)
      assert(r.getAs[Long]("n_exact") == 3L)
      assert(r.getAs[Long]("n_hit") == 3L)
      assert(r.getAs[Double]("recall") == 1.0)
    }
  }

  test("annFiltered: a filtered neighbor in an unprobed cell is bought back by widening the probe") {
    // The annRecall miss fixture, labeled: the label-3 corpus is the
    // five cell-A `high` vectors plus 70 (the cell-C vector the query
    // ranks highly). nprobe = 2 probes A + one other but not C → 70 is
    // the one filtered miss; nprobe = 4 ≥ ncells probes everything →
    // lossless. The recall pair must match the model twin exactly and
    // show a strict widening gain.
    val high = Seq(0.95f, 0.05f, 0.1f, 0f)
    val junk = Seq(0.3f, 0f, 0.95f, 0f)
    val vecs: Seq[(Long, Seq[Float], Int)] =
      Seq((0L, Seq(1f, 0f, 0f, 0f), 0),          // centroid-A seed
        (17L, Seq(0.995f, 0.1f, 0f, 0f), 7),     // the panel query (cell A)
        (50L, Seq(0.71f, -0.71f, 0f, 0f), 0),    // centroid-B seed
        (100L, Seq(0f, 1f, 0f, 0f), 0),          // centroid-C seed
        (70L, Seq(0.6f, 0.75f, 0f, 0f), 3),      // cell C, close to the query
        (10L, Seq(0.05f, 0f, 0.998f, 0f), 0)) ++ // unlabeled distractor
        (1L to 5L).map(i => (i, high, 3)) ++ (6L to 9L).map(i => (i, junk, 0))
    val dir = fixtureDir("embeddings" ->
      vecs.map { case (id, v, l) => (id, v, l) }
        .toDF("vec_id", "embedding", "label"))
    val want = filteredModel(vecs)
    val got = operators.Similarity.annFiltered(spark, dir).collect()
      .map(r => (r.getInt(0), r.getAs[Double]("recall"))).toSeq
    assert(got == want)
    val byNp = got.toMap
    assert(byNp(2) < byNp(4), s"widening must buy recall back: $got")
    assert(byNp(4) == 1.0) // 4 ≥ ncells → every cell probed → lossless
  }

  test("hybridSearch: RRF fuses both legs, dedups across them, ties break doc-ASC") {
    // 30 ids, one trained cell (seed {0}), panel = {17}. Lexical:
    // doc 5 shares all 3 query tokens (lrank 1), doc 7 two (lrank 2),
    // doc 11 one (lrank 3); every other text is token-disjoint. Vector:
    // doc 5 is ALSO the nearest vector (vrank 1), doc 9 second; all
    // remaining vectors are orthogonal to the query (cos 0 ties →
    // vrank by id ASC: 0,1,2,3,4,6,7,8 take vranks 3–10, so doc 7
    // carries vrank 9 on top of lrank 2). Expected fused top-5:
    //   5  → 1/61 + 1/61   (both legs, the full-outer dedup)
    //   7  → 1/62 + 1/69   (lex 2 + vec 9)
    //   9  → 1/62          (vector only)
    //   0  → 1/63 (vec 3) and 11 → 1/63 (lex 3) TIE → doc ASC
    val texts: Seq[(Long, String)] = (0L until 30L).map {
      case 17L => 17L -> "alpha beta gamma"
      case 5L  => 5L -> "alpha beta gamma"
      case 7L  => 7L -> "alpha beta q7"
      case 11L => 11L -> "alpha q11a q11b"
      case i   => i -> s"u${i}a u${i}b u${i}c"
    }
    val vecs: Seq[(Long, Seq[Float])] = (0L until 30L).map {
      case 17L => 17L -> Seq(1f, 0f, 0f, 0f)
      case 5L  => 5L -> Seq(0.99f, 0.1f, 0f, 0f)
      case 9L  => 9L -> Seq(0.9f, 0.3f, 0f, 0f)
      case i   => i -> Seq(0f, 1f, 0f, 0f)
    }
    val dir = fixtureDir(
      "documents" -> texts.map { case (id, t) =>
        (id, t, "en", "src0", t.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> vecs.map { case (id, v) => (id, v, 0) }
        .toDF("vec_id", "embedding", "label"))
    def rrf(ranks: Int*): Double = {
      val raw = ranks.map(r => 1.0 / (60 + r)).sum
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = operators.Similarity.hybridSearch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(got == Seq(
      (17L, 5L, rrf(1, 1), 1),
      (17L, 7L, rrf(2, 9), 2),
      (17L, 9L, rrf(2), 3),
      (17L, 0L, rrf(3), 4),
      (17L, 11L, rrf(3), 5)))
  }

  test("hybridWeighted: rare shared token outvotes common-token overlaps via idf") {
    // 30 ids, one trained cell (seed {0}), panel = {17}. Query text:
    // "c1 c2 r1". Nine docs ({5, 20–27}) share BOTH common tokens
    // (df(c1)=df(c2)=11 → idf_fp=1003302 each, w=2006604); doc 7 shares
    // only the RARE r1 (df=2 → idf_fp=2708050). The count leg ranks the
    // overlap-2 pack first (l1–l9, doc ASC) and doc 7 LAST (l10); the
    // weighted leg inverts that — doc 7 w1, the pack w2–w10 — which is
    // the whole point of the idf leg. Vector: doc 5 nearest (v1), doc 9
    // second, remaining cos-0 ties take v3–v10 (docs 0,1,2,3,4,6,7,8 →
    // doc 7 carries v9). Expected fused top-5:
    //   5  → 1/61 + 1/62 + 1/61   (l1, w2, v1)
    //   7  → 1/70 + 1/61 + 1/69   (l10, w1, v9 — rescued by the idf leg)
    //   20 → 1/62 + 1/63          (l2, w3)
    //   21 → 1/63 + 1/64          (l3, w4)
    //   22 → 1/64 + 1/65          (l4, w5)
    val texts: Seq[(Long, String)] = (0L until 30L).map {
      case 17L => 17L -> "c1 c2 r1"
      case 5L  => 5L -> "c1 c2 u5"
      case 7L  => 7L -> "r1 u7a u7b"
      case i if i >= 20L && i <= 27L => i -> s"c1 c2 pad$i"
      case i   => i -> s"u${i}a u${i}b u${i}c"
    }
    val vecs: Seq[(Long, Seq[Float])] = (0L until 30L).map {
      case 17L => 17L -> Seq(1f, 0f, 0f, 0f)
      case 5L  => 5L -> Seq(0.99f, 0.1f, 0f, 0f)
      case 9L  => 9L -> Seq(0.9f, 0.3f, 0f, 0f)
      case i   => i -> Seq(0f, 1f, 0f, 0f)
    }
    val dir = fixtureDir(
      "documents" -> texts.map { case (id, t) =>
        (id, t, "en", "src0", t.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> vecs.map { case (id, v) => (id, v, 0) }
        .toDF("vec_id", "embedding", "label"))
    def rrf(ranks: Int*): Double = {
      val raw = ranks.map(r => 1.0 / (60 + r)).sum
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = operators.Similarity.hybridWeighted(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(got == Seq(
      (17L, 5L, rrf(1, 2, 1), 1),
      (17L, 7L, rrf(10, 1, 9), 2),
      (17L, 20L, rrf(2, 3), 3),
      (17L, 21L, rrf(3, 4), 4),
      (17L, 22L, rrf(4, 5), 5)))
  }

  test("hybridParity: w=2 admits the exact-cosine nearest that w=1's double-voting lexical pair excludes") {
    // 30 ids, one trained cell (seed {0}), panel = {17}. The crafted
    // dead-leg corpus: pack docs 20–27 share both query tokens (equal
    // idf → count and idf legs rank them IDENTICALLY, docs ASC → each
    // holds TWO lexical votes at ranks l_i = w_i = i); doc 5 is the
    // EXACT cosine nearest (vrank 1) but token-disjoint — one vector
    // vote only. Orthogonal fillers 0,1,2,3,4,6,7,8,9 take the cos-0
    // vranks 2–10 (doc ASC), so the pack holds no vector votes.
    //   w=1 (q_hybrid_weighted): every pack doc scores 2/(60+i) ≥
    //   2/68 > doc 5's single 1/61 → fused top-5 = pack 20–24; the
    //   true semantic nearest NEVER surfaces (FUSION_SWEEP's sem@5=0).
    //   w=2 (q_hybrid_parity): one vector vote now equals two lexical
    //   votes — 2·(1/(60+v)) interleaves exactly with 2/(60+i), ties
    //   break doc ASC: 5 (2/61, ties pack 20) enters at rk 1, fillers
    //   0 (2/62, ties 21) and 1 (2/63, ties 22) follow. Both runs on
    //   ONE fixture so the spec pins the transition, not two corpora.
    val texts: Seq[(Long, String)] = (0L until 30L).map {
      case 17L => 17L -> "c1 c2"
      case i if i >= 20L && i <= 27L => i -> s"c1 c2 pad$i"
      case i   => i -> s"u${i}a u${i}b u${i}c"
    }
    val vecs: Seq[(Long, Seq[Float])] = (0L until 30L).map {
      case 17L => 17L -> Seq(1f, 0f, 0f, 0f)
      case 5L  => 5L -> Seq(0.99f, 0.1f, 0f, 0f)
      case i   => i -> Seq(0f, 1f, 0f, 0f)
    }
    val dir = fixtureDir(
      "documents" -> texts.map { case (id, t) =>
        (id, t, "en", "src0", t.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> vecs.map { case (id, v) => (id, v, 0) }
        .toDF("vec_id", "embedding", "label"))
    def r6(raw: Double): Double =
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val w1 = operators.Similarity.hybridWeighted(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(w1 == Seq(
      (17L, 20L, r6(2.0 / 61), 1),
      (17L, 21L, r6(2.0 / 62), 2),
      (17L, 22L, r6(2.0 / 63), 3),
      (17L, 23L, r6(2.0 / 64), 4),
      (17L, 24L, r6(2.0 / 65), 5)))
    val w2 = operators.Similarity.hybridParity(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(w2 == Seq(
      (17L, 5L, r6(2.0 / 61), 1),
      (17L, 20L, r6(2.0 / 61), 2),
      (17L, 0L, r6(2.0 / 62), 3),
      (17L, 21L, r6(2.0 / 62), 4),
      (17L, 1L, r6(2.0 / 63), 5)))
  }

  test("knnClassify: majority vote, label-ASC tie-break, and lone-cell exclusion") {
    // One 11-member cell (seed 0) + one lone-vector cell (seed 50):
    // ids 1–5 carry label 2, ids 6–10 label 4, the hub (id 0, label 2)
    // ties its electorate 5–5 → label ASC picks 2 → correct. Each
    // label-2 member sees votes {2: 4 mates + hub = 5, 4: 5} → tie →
    // pred 2 → correct; each label-4 member sees the same split → pred
    // 2 → WRONG. The lone vector (id 50) has no electorate and is
    // excluded from n_scored. So: n_scored = 11, n_correct = 6,
    // accuracy = round(6/11, 6).
    def near(i: Int): Seq[Float] =
      Seq(1f, 0.01f * i, 0.005f * ((i * 7) % 11), 0f)
    val vecs: Seq[(Long, Seq[Float], Int)] =
      Seq((0L, Seq(1f, 0f, 0f, 0f), 2), (50L, Seq(0f, 0f, 0f, 1f), 9)) ++
        (1L to 5L).map(i => (i, near(i.toInt), 2)) ++
        (6L to 10L).map(i => (i, near(i.toInt), 4))
    val dir = fixtureDir("embeddings" ->
      vecs.toDF("vec_id", "embedding", "label"))
    val r = operators.Similarity.knnClassify(spark, dir).collect().head
    assert(r.getAs[Int]("k") == 10)
    assert(r.getAs[Long]("n_scored") == 11L)
    assert(r.getAs[Long]("n_correct") == 6L)
    assert(r.getAs[Double]("accuracy") ==
      BigDecimal(6.0 / 11.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("hardNegatives: same-label neighbors skipped, rank re-numbers, all-same-label cell emits nothing") {
    // Cell A (seed 0): anchor 0 (label 1) with cellmates ranked by
    // cos DESC = ids 1,2,3,4,5 (labels 1,2,1,2,3). Hard negatives
    // must SKIP the same-label ids 1 and 3 and renumber: (2, rk 1),
    // (4, rk 2); id 5's label-3 row is cut by K = 2. Cell B (seed
    // 50): every member shares label 7 → no candidate survives the
    // label filter → anchors 50-52 emit ZERO rows (bounded-depth
    // mining, not a widened search).
    def near(i: Int): Seq[Float] = Seq(1f, 0.01f * i, 0f, 0f)
    val vecs: Seq[(Long, Seq[Float], Int)] =
      Seq((0L, Seq(1f, 0f, 0f, 0f), 1),
        (1L, near(1), 1), (2L, near(2), 2), (3L, near(3), 1),
        (4L, near(4), 2), (5L, near(5), 3),
        (50L, Seq(0f, 0f, 1f, 0f), 7),
        (51L, Seq(0f, 0.01f, 1f, 0f), 7),
        (52L, Seq(0f, 0.02f, 1f, 0f), 7))
    val dir = fixtureDir("embeddings" ->
      vecs.toDF("vec_id", "embedding", "label"))
    val rows = operators.Similarity.hardNegatives(spark, dir).collect()
    val anchor0 = rows.filter(_.getLong(0) == 0L)
      .map(x => (x.getLong(2), x.getInt(3), x.getInt(5))).toSeq
    assert(anchor0 == Seq((2L, 2, 1), (4L, 2, 2)))
    assert(rows.forall(x => x.getInt(1) != x.getInt(3))) // never same-label
    assert(!rows.exists(x => x.getLong(0) >= 50L))       // cell B: no negatives
  }

  /** Model twin of Similarity.matryoshkaRecall: per truncation width,
    * prefix-cosine top-10 (round-6 grid, id-ASC ties) vs the
    * full-width exact top-10 over the shared offset panel. */
  private def matryoshkaModel(
      vecs: Seq[(Long, Seq[Float])]): Seq[(Int, Int, Long, Long, Long, Double)] = {
    val panel = panelOf(vecs)
    def top10(qid: Long, qv: Seq[Float], d: Int): Set[Long] =
      vecs.filter(_._1 != qid)
        .map { case (id, v) => (id, cos6d(lift(v).take(d), lift(qv).take(d))) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
    Seq(8, 16, 32).map { dm =>
      var nx = 0L; var nh = 0L
      panel.foreach { case (qid, qv) =>
        val exact = top10(qid, qv, qv.length)
        nx += exact.size
        nh += exact.intersect(top10(qid, qv, dm)).size
      }
      (dm, 10, panel.size.toLong, nx, nh,
        BigDecimal(nh.toDouble / nx).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("matryoshkaRecall: a suffix-only friend is the prefix ranking's exact miss; wider prefixes are lossless") {
    // 16-dim corpus, panel = {17}. Vector 3 matches the query ONLY in
    // the suffix half (full cos 0.5, prefix-8 cos 0) — the full-width
    // top-10 keeps it, the 8-dim ranking ranks it last. Vector 4 is
    // the mirror impostor (prefix cos ≈ 0.99, full cos < 0): the
    // 8-dim ranking admits it, the full ranking drops it. With 11
    // candidates the top-10 cut excludes exactly one per ranking →
    // recall@8 = 9/10; dims 16 and 32 cover the full width (slice
    // caps at the array) → recall exactly 1.
    def v(p1: Float, p2: Float, s1: Float, s2: Float): Seq[Float] =
      Seq(p1, p2) ++ Seq.fill(6)(0f) ++ Seq(s1, s2) ++ Seq.fill(6)(0f)
    val vecs: Seq[(Long, Seq[Float])] =
      Seq(17L -> v(1f, 0f, 1f, 0f),
        3L -> v(0f, 1f, 1f, 0f),
        4L -> v(0.9f, 0.1f, -1f, 0f)) ++
        Seq(1L, 2L, 5L, 6L, 7L, 8L, 9L, 10L, 11L).zipWithIndex.map {
          case (id, i) => id -> v(0.5f, 0.05f * (i + 1), 0.3f, 0.02f * (i + 1))
        }
    val dir = fixtureDir("embeddings" ->
      vecs.map { case (id, x) => (id, x, 0) }.toDF("vec_id", "embedding", "label"))
    val got = operators.Similarity.matryoshkaRecall(spark, dir).collect()
      .map(x => (x.getInt(0), x.getInt(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getDouble(5))).toSeq
    val want = matryoshkaModel(vecs)
    assert(got == want)
    assert(want.map(_._6) == Seq(0.9, 1.0, 1.0))
  }

  /** Model twin of Similarity.sqRecall: q_vec_quantize int8 codes
    * (HALF_UP round, clamp ±127), UNROUNDED quantized cosine (exact
    * integers → deterministic) vs the round-6 exact side. */
  private def sqModel(vecs: Seq[(Long, Seq[Float])]): (Int, Long, Long, Long, Double) = {
    def codes(v: Seq[Float]): Seq[Double] = {
      val maxAbs = math.max(v.map(x => math.abs(x.toDouble)).max, 1e-30)
      v.map { x =>
        val r = BigDecimal(x.toDouble * (127.0 / maxAbs))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
        math.min(math.max(r, -127.0), 127.0)
      }
    }
    def cosRaw(a: Seq[Double], b: Seq[Double]): Double = {
      def dot(x: Seq[Double], y: Seq[Double]) =
        x.zip(y).map { case (p, q) => p * q }.sum
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val panel = panelOf(vecs)
    var nx = 0L; var nh = 0L
    panel.foreach { case (qid, qv) =>
      val exact = vecs.filter(_._1 != qid)
        .map { case (id, v) => (id, cos6d(lift(v), lift(qv))) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
      val qc = codes(qv)
      val approx = vecs.filter(_._1 != qid)
        .map { case (id, v) => (id, cosRaw(codes(v), qc)) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
      nx += exact.size; nh += exact.intersect(approx).size
    }
    (10, panel.size.toLong, nx, nh,
      BigDecimal(nh.toDouble / nx).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  private def runSqRecall(vecs: Seq[(Long, Seq[Float])]): (Int, Long, Long, Long, Double) = {
    val dir = fixtureDir("embeddings" ->
      vecs.map { case (id, v) => (id, v, 0) }.toDF("vec_id", "embedding", "label"))
    val r = operators.Similarity.sqRecall(spark, dir).collect().head
    (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
  }

  test("sqRecall: matches the quantized-ranking model on a random panel") {
    val rnd = new scala.util.Random(11)
    val vecs: Seq[(Long, Seq[Float])] =
      (0L until 120L).map(i => i -> Seq.fill(16)(rnd.nextFloat() * 2f - 1f))
    val want = sqModel(vecs)
    assert(runSqRecall(vecs) == want)
    assert(want._2 == 3L && want._4 > 0L && want._4 <= want._3)
  }

  test("sqRecall: an outlier component starves the int8 grid — the eval reports the loss") {
    // one ×100 component per vector forces scale = 127/outlier, so the
    // informative components quantize to a couple of levels (most to 0):
    // the quantized ranking must diverge from exact and recall drop < 1
    val rnd = new scala.util.Random(23)
    val vecs: Seq[(Long, Seq[Float])] =
      (0L until 120L).map { i =>
        val v = Seq.fill(15)(rnd.nextFloat() * 2f - 1f)
        i -> (v :+ (100f + (i % 7).toFloat))
      }
    val want = sqModel(vecs)
    assert(runSqRecall(vecs) == want)
    assert(want._4 < want._3, s"expected quantization loss, got $want")
  }

  test("sqRecall: vectors on the exact int8 grid quantize losslessly — recall 1.0") {
    // components k/64 (exact floats) with max |k| = 127 → scale is
    // exactly 64 and code = k: the quantized cosine equals the float
    // cosine bit-for-bit (4096 = 2^12 cancels through the sqrt), so
    // the two rankings coincide and recall must be exactly 1
    val rnd = new scala.util.Random(5)
    val vecs: Seq[(Long, Seq[Float])] =
      (0L until 60L).map { i =>
        val ks = Seq.fill(7)(rnd.nextInt(255) - 127)
        i -> (ks :+ (if (i % 2 == 0) 127 else -127)).map(k => k / 64f)
      }
    val want = sqModel(vecs)
    assert(runSqRecall(vecs) == want)
    assert(want == ((10, 1L, 10L, 10L, 1.0)))
  }

  /** Model twin of Similarity.lshRecall: rational sign-planes
    * (re-derived here, not imported — ((i·31+j·17) mod 101)/50.5 − 1),
    * truncated to the vector's dims exactly as vec_dot's min-length
    * loop does; candidates = the query's bucket, ranked on the round-6
    * grid. */
  private def lshModel(vecs: Seq[(Long, Seq[Float])]): (Int, Long, Long, Long, Double) = {
    val dims = vecs.head._2.length
    def planeD(j: Int): Seq[Double] =
      (0 until dims).map(i => ((i * 31 + j * 17) % 101) / 50.5 - 1.0)
    def bucket(v: Seq[Float]): Long =
      (0 until 4).map { j =>
        val d = lift(v).zip(planeD(j)).map { case (a, b) => a * b }.sum
        if (d >= 0.0) 1L << j else 0L
      }.sum
    val panel = panelOf(vecs)
    var nx = 0L; var nh = 0L
    panel.foreach { case (qid, qv) =>
      val exact = vecs.filter(_._1 != qid)
        .map { case (id, v) => (id, cos6d(lift(v), lift(qv))) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
      val qb = bucket(qv)
      val approx = vecs
        .filter { case (id, v) => id != qid && bucket(v) == qb }
        .map { case (id, v) => (id, cos6d(lift(v), lift(qv))) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
      nx += exact.size; nh += exact.intersect(approx).size
    }
    (10, panel.size.toLong, nx, nh,
      BigDecimal(nh.toDouble / nx).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  private def runLshRecall(vecs: Seq[(Long, Seq[Float])]): (Int, Long, Long, Long, Double) = {
    val dir = fixtureDir("embeddings" ->
      vecs.map { case (id, v) => (id, v, 0) }.toDF("vec_id", "embedding", "label"))
    val r = operators.Similarity.lshRecall(spark, dir).collect().head
    (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
  }

  test("lshRecall: matches the sign-plane model; one bucket cannot hold every neighbor") {
    val rnd = new scala.util.Random(31)
    val vecs: Seq[(Long, Seq[Float])] =
      (0L until 120L).map(i => i -> Seq.fill(16)(rnd.nextFloat() * 2f - 1f))
    val want = lshModel(vecs)
    assert(runLshRecall(vecs) == want)
    // 16 buckets over near-random vectors: the probe reads ~1/16 of the
    // corpus, so some true neighbors must be missing (the measurement)
    assert(want._2 == 3L && want._4 < want._3)
  }

  test("lshRecall: identical vectors share every sign — recall on the clone panel is 1") {
    // all vectors are the SAME direction (scaled): every bucket bit
    // agrees, the panel query's bucket holds the whole corpus, and the
    // in-bucket exact rerank degenerates to brute force
    val vecs: Seq[(Long, Seq[Float])] =
      (0L until 60L).map(i => i -> Seq(1f, 0.5f, -0.25f, 0.125f).map(_ * (1f + i)))
    val want = lshModel(vecs)
    assert(runLshRecall(vecs) == want)
    assert(want == ((10, 1L, 10L, 10L, 1.0)))
  }

  /** Model twin of Similarity.ivfSqRecall: trained-cell probe (float
    * query vs float centroids, top-2) + quantized candidate ranking. */
  private def ivfSqModel(vecs: Seq[(Long, Seq[Float])]): (Int, Long, Long, Long, Double) = {
    def codes(v: Seq[Float]): Seq[Double] = {
      val maxAbs = math.max(v.map(x => math.abs(x.toDouble)).max, 1e-30)
      v.map { x =>
        val r = BigDecimal(x.toDouble * (127.0 / maxAbs))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
        math.min(math.max(r, -127.0), 127.0)
      }
    }
    def cosRaw(a: Seq[Double], b: Seq[Double]): Double = {
      def dot(x: Seq[Double], y: Seq[Double]) =
        x.zip(y).map { case (p, q) => p * q }.sum
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val cents = trainedCents(vecs)
    val cell = cellOf(vecs, cents)
    val panel = panelOf(vecs)
    var nx = 0L; var nh = 0L
    panel.foreach { case (qid, qv) =>
      val exact = vecs.filter(_._1 != qid)
        .map { case (id, v) => (id, cos6d(lift(v), lift(qv))) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
      val probed = cents.map { case (cid, cv) => (cid, cos6d(lift(qv), cv)) }
        .sortBy { case (cid, c) => (-c, cid) }.take(2).map(_._1).toSet
      val qc = codes(qv)
      val approx = vecs
        .filter { case (id, _) => id != qid && probed(cell(id)) }
        .map { case (id, v) => (id, cosRaw(codes(v), qc)) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
      nx += exact.size; nh += exact.intersect(approx).size
    }
    (10, panel.size.toLong, nx, nh,
      BigDecimal(nh.toDouble / nx).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  private def runIvfSqRecall(vecs: Seq[(Long, Seq[Float])]): (Int, Long, Long, Long, Double) = {
    val dir = fixtureDir("embeddings" ->
      vecs.map { case (id, v) => (id, v, 0) }.toDF("vec_id", "embedding", "label"))
    val r = operators.Similarity.ivfSqRecall(spark, dir).collect().head
    (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
  }

  test("ivfSqRecall: matches the composed cell-probe + quantized-ranking model") {
    val rnd = new scala.util.Random(41)
    val vecs: Seq[(Long, Seq[Float])] =
      (0L until 120L).map(i => i -> Seq.fill(16)(rnd.nextFloat() * 2f - 1f))
    val want = ivfSqModel(vecs)
    assert(runIvfSqRecall(vecs) == want)
    assert(want._2 == 3L && want._4 > 0L && want._4 <= want._3)
  }

  test("ivfSqRecall: composition never beats its IVF half on the same panel") {
    // quantized ranking inside the probed cells can only reorder (and
    // possibly drop) candidates the float IVF path already retrieved —
    // per panel query approx(ivfsq) ⊆ cells(probed), so recall(ivf-sq)
    // ≤ recall(ivf) would need per-query sets; at summary level the hit
    // count is bounded by the IVF hit count when codes are lossless and
    // can only fall otherwise. Grid-exact vectors make codes lossless →
    // the two evals must coincide exactly.
    val rnd = new scala.util.Random(43)
    val vecs: Seq[(Long, Seq[Float])] =
      (0L until 60L).map { i =>
        val ks = Seq.fill(7)(rnd.nextInt(255) - 127)
        i -> (ks :+ (if (i % 2 == 0) 127 else -127)).map(k => k / 64f)
      }
    val want = ivfSqModel(vecs)
    assert(runIvfSqRecall(vecs) == want)
    assert(want == recallModel(vecs))
  }

  test("recall panel is seed-disjoint at ANY corpus size (explicit exclusion)") {
    // n=3025 (=55²): ivfStride=⌊√3025⌋=55, panelStride=151 — vec_id
    // 1980 = 17+13·151 = 36·55 sits on BOTH grids; the %50-regime
    // offset argument cannot exclude it (round-5 advice), the explicit
    // filter must. (Was n=4288/id=1943 under the pre-round-11 capped
    // stride law.)
    val n = 3025L
    val kept = spark.range(n).select(col("id").as("vec_id"))
      .filter(operators.Similarity.panelFilter(n))
      .collect().map(_.getLong(0)).toSeq
    assert(kept.nonEmpty)
    assert(!kept.contains(1980L))
    assert(kept.forall(id => id % 151 == 17 && id % 55 != 0))
    assert((17L until n by 151).filter(_ % 55 == 0) == Seq(1980L))
  }

  test("Lloyd's rounds do not decrease the spherical k-means objective") {
    // recentring on the (unnormalized) mean IS spherical k-means — the
    // mean and the normalized mean point the same way, and cosine is
    // scale-invariant — so the assignment objective must be monotone
    // (up to the 1e-6 comparison grid the pipeline rounds on).
    val rnd = new scala.util.Random(7)
    val vecs: Seq[(Long, Seq[Float])] =
      (0L until 300L).map(i => i -> Seq.fill(8)(rnd.nextFloat() * 2f - 1f))
    def objective(cents: Seq[(Long, Seq[Double])]): Double =
      vecs.map { case (_, v) => cents.map { case (_, cv) => cos6d(lift(v), cv) }.max }.sum
    val seed = vecs.filter(_._1 % operators.Similarity.ivfStride(300L) == 0)
      .map { case (id, v) => id -> lift(v) }
    assert(objective(trainedCents(vecs)) >= objective(seed) - 1e-4)
  }

  test("minhashAccuracy: exact pair estimates 1.0 with zero error; estimator stays in [0,1]") {
    val base = (0 until 30).map(i => s"w$i").mkString(" ")
    val near = (0 until 30).map(i => if (i == 29) "zz" else s"w$i").mkString(" ")
    val d = fixtureDir("documents" -> Seq(
      (1L, base, "en", "s", 1L),
      (2L, base, "en", "s", 1L),   // identical: est = true = 1, err = 0
      (3L, near, "en", "s", 1L),   // near-dup: candidate with partial overlap
      (4L, (0 until 30).map(i => s"q$i").mkString(" "), "en", "s", 1L)) // disjoint
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val r = Dedup.minhashAccuracy(spark, d).collect()
      .map(x => (x.getLong(0), x.getLong(1)) ->
        ((x.getDouble(2), x.getDouble(3), x.getDouble(4)))).toMap
    assert(r((1L, 2L)) == ((1.0, 1.0, 0.0)))
    assert(r.keySet.forall { case (_, b) => b != 4L }) // disjoint doc: no candidate
    r.values.foreach { case (est, tj, err) =>
      assert(est >= 0.0 && est <= 1.0 && tj >= 0.0 && tj <= 1.0 && err >= 0.0)
    }
    // near pair: 27 of 29 distinct shingles shared → exact J = 27/29;
    // the 16-minima estimator reads 13/16 on this data
    assert(r((1L, 3L)) == ((0.8125, 0.931034, 0.118534)))
    assert(r((2L, 3L)) == r((1L, 3L))) // identical docs estimate identically
  }

  test("neardupPurge: full-corpus ledger — singletons and shingle-less docs survive") {
    val base = (0 until 20).map(i => s"w$i").mkString(" ")
    val d = fixtureDir("documents" -> Seq(
      (1L, base, "en", "s", 1L),            // cluster rep
      (2L, base + " extra", "en", "s", 1L), // jaccard 18/19 → purged
      (3L, (0 until 20).map(i => s"z$i").mkString(" "), "en", "s", 1L), // unique
      (4L, "x y", "en", "s", 1L))           // < 3 tokens: no shingles at all
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val r = Dedup.neardupPurge(spark, d).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getBoolean(3)))).toMap
    assert(r(1L) == ((1L, 2L, false)))
    assert(r(2L) == ((1L, 2L, true)))  // only the non-representative drops
    assert(r(3L) == ((3L, 1L, false))) // in no pair → its own singleton cluster
    assert(r(4L) == ((4L, 1L, false))) // too short to shingle, still in the ledger
    assert(r.size == 4)
  }

  test("ivf/semDedup: past the %50 grid the stride tracks ⌊√n⌋ — cells stay √n-sized") {
    // 6400 vectors → stride = max(50, ⌊√6400⌋) = 80: every cell id must
    // be a stride-80 seed, and the cell count must stay ≤ ⌈n/stride⌉ —
    // the √-law that keeps celled pairwise work at n·√n (round 11; the
    // old capped law pinned stride 100 here and n²/64 asymptotically).
    val vecs = (0L until 6400L).map(i =>
      (i, Seq(((i % 7) + 1).toFloat, ((i % 11) + 1).toFloat,
        ((i % 13) + 1).toFloat, 1f), 0))
    val dir = fixtureDir("embeddings" -> vecs.toDF("vec_id", "embedding", "label"))
    val topk = Similarity.ivf(spark, dir).collect()
    assert(topk.length == 10 && topk.forall(_.getLong(1) % 80L == 0L), topk.mkString(","))
    val ledger = Dedup.semDedup(spark, dir).collect()
    assert(ledger.length <= (6400L + 79L) / 80L + 1, ledger.length)
    assert(ledger.forall(_.getLong(0) % 80L == 0L))
    assert(ledger.map(_.getLong(1)).sum == 6400L) // every vector lands in a cell
    val st = Similarity.ivfCellStats(spark, dir).collect().head
    assert(st.getLong(0) == ledger.length.toLong) // same index → same cells
    assert(st.getLong(1) == 6400L)
    assert(st.getLong(2) <= st.getLong(3) && st.getDouble(5) >= 1.0)
  }

  test("semDedup: redundancy is cell-scoped — a cross-cell near-dup pair survives") {
    // Two stride centroids (ids 0 and 50, orthogonal). The 45°-straddle
    // pair (20, 51) has cosine ≈ 0.9966 ≥ τ but lands in DIFFERENT
    // cells, so neither is flagged — SemDeDup's accepted approximation,
    // and exactly what makes the pairwise work n²/k instead of n².
    val vecs: Seq[(Long, Seq[Float])] = Seq(
      0L -> Seq(1f, 0f, 0f, 0f),           // centroid A (also a member)
      50L -> Seq(0f, 1f, 0f, 0f),          // centroid B (also a member)
      1L -> Seq(0.99f, 0.12f, 0f, 0f),     // cell A, near id 0 → redundant
      20L -> Seq(0.3f, 0.29f, 0.91f, 0f),  // cell A side of the straddle pair
      21L -> Seq(0.29f, 0.3f, 0.91f, 0f),  // cell B side, cos(20,21) ≈ 0.9999
      30L -> Seq(0f, 0f, 0f, 1f),          // orthogonal to all → survivor
      51L -> Seq(0f, 0.98f, 0.2f, 0f))     // cell B, near centroid 50 → redundant
    val dir = fixtureDir("embeddings" ->
      vecs.map { case (id, v) => (id, v, 0) }.toDF("vec_id", "embedding", "label"))
    // driver-side model: same trained assignment, same rounded gate
    def cos6(a: Seq[Float], b: Seq[Float]) = cos6d(lift(a), lift(b))
    val cell = cellOf(vecs, trainedCents(vecs))
    val redundant = vecs.collect { case (id, v) if vecs.exists { case (nb, nv) =>
      nb < id && cell(nb) == cell(id) && cos6(v, nv) >= 0.35 } => id }.toSet
    val want = vecs.groupBy { case (id, _) => cell(id) }.map { case (c, ms) =>
      c -> ((ms.size.toLong, ms.count(m => redundant(m._1)).toLong))
    }
    val got = Dedup.semDedup(spark, dir).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(got == want)
    // the boundary pins themselves: the straddle pair is ≥ τ but split
    // across cells → both unflagged; 51 is flagged by its own centroid
    // acting as an ordinary (lower-id) member; 30 survives everywhere.
    assert(cell(20L) != cell(21L) && cos6(vecs(3)._2, vecs(4)._2) >= 0.35)
    assert(!redundant(20L) && !redundant(21L))
    assert(redundant(1L) && redundant(51L) && !redundant(30L) && !redundant(0L))
  }

  test("mmrRerank: greedy diversification demotes the near-dup; short shortlist stops early") {
    // query q = e1 (id 17). A (id 1, rel .8) is picked first; B (id 2,
    // rel .6) is a NEAR-DUP of A (sim .96) while C (id 3, rel .6) is
    // diverse (sim .48) — plain relevance order would take B (tie on
    // rel, id ASC), MMR must take C. D (id 4, rel 0) goes last at a
    // NEGATIVE score (pure redundancy penalty). Only 4 candidates but
    // k = 5 → exactly 4 rows (the short-shortlist edge).
    val dir = fixtureDir("embeddings" -> Seq(
      (17L, vec(1, 0, 0, 0), 0),      // the panel query (17 % 50 = 17)
      (1L, vec(0.8, 0.6, 0, 0), 0),   // A: rel .8
      (2L, vec(0.6, 0.8, 0, 0), 0),   // B: rel .6, sim(B,A) = .96
      (3L, vec(0.6, 0, 0.8, 0), 0),   // C: rel .6, sim(C,A) = .48
      (4L, vec(0, 0, 1, 0), 0),       // D: rel 0, sim(D,C) = .8
    ).toDF("vec_id", "embedding", "label"))
    val got = Similarity.mmrRerank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq((17L, 1, 1L), (17L, 2, 3L), (17L, 3, 2L), (17L, 4, 4L)))
    // hand-computed scores: .7·.8 ‖ .7·.6−.3·.48 ‖ .7·.6−.3·.96 ‖ 0−.3·.8
    val want = Seq(0.56, 0.276, 0.132, -0.24)
    got.map(_._4).zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) < 2e-6, s"$g vs $w")
    }
  }

  test("rangeSearch: inclusive τ edge — cos exactly 0.3 is in, 0.299 is out; one cell finds all") {
    // single-seed corpus (only id 0 ≡ 0 mod 50) trains ONE cell, so the
    // top-2 probe covers everything and range_recall must be exactly 1;
    // the exact neighborhood of q = e1 holds ONLY the planted τ-edge
    // vector (rounded cos 0.3 ≥ τ); its 0.299 twin must stay outside.
    val y3 = math.sqrt(1 - 0.09)        // unit second component for cos .3
    val y299 = math.sqrt(1 - 0.299 * 0.299)
    val dir = fixtureDir("embeddings" -> Seq(
      (0L, vec(0, 0.6, 0.8, 0), 0),     // centroid seed
      (1L, vec(0, 1, 0, 0), 0),
      (2L, vec(0, 0, 1, 0), 0),
      (3L, vec(0, 0, 0, 1), 0),
      (4L, vec(0.3, y3, 0, 0), 0),      // cos vs q = 0.300000 → included
      (5L, vec(0.299, y299, 0, 0), 0),  // cos vs q = 0.299 → excluded
      (17L, vec(1, 0, 0, 0), 0),        // the panel query
    ).toDF("vec_id", "embedding", "label"))
    graft.Pins.clear("ivf")
    val r = Similarity.rangeSearch(spark, dir).collect()
    assert(r.length == 1)
    assert(r.head.getDouble(0) == 0.3)      // tau
    assert(r.head.getLong(1) == 1L)         // n_queries
    assert(r.head.getLong(2) == 1L, r.head) // n_exact: the τ-edge vector only
    assert(r.head.getLong(3) == 1L)         // n_found: one cell sees everything
    assert(r.head.getDouble(4) == 1.0)      // range_recall
  }

  test("srpRecall: sign matrix is non-degenerate; clustered corpus survives the 4× cut") {
    // every projected coordinate must mix both signs (a constant row
    // would just re-scale one input pattern)
    for (j <- 0 until Similarity.SrpDims) {
      val signs = (0 until 64).map(i => Similarity.srpSign(i, j)).toSet
      assert(signs == Set(1L, -1L), s"degenerate row $j")
    }
    // 4 tight clusters on orthogonal 64-d axes: the panel query (id 17,
    // cluster 1) has its 9 cluster-mates as clear neighbors, and a ±1
    // JL projection to 16 dims preserves cluster separation — so
    // projected recall@10 must stay high where the flat-random corpus
    // is noise-limited (the eval prices exactly this difference).
    val rnd = new scala.util.Random(11)
    val rows = (0L until 40L).map { id =>
      val axis = (id / 10).toInt * 16
      val v = Array.tabulate(64)(i =>
        (if (i == axis) 1.0 else 0.0) + 0.05 * rnd.nextGaussian())
      (id, v.map(_.toFloat), 0)
    }
    val dir = fixtureDir("embeddings" ->
      rows.toDF("vec_id", "embedding", "label"))
    val r = Similarity.srpRecall(spark, dir).collect().head
    assert(r.getInt(0) == Similarity.SrpDims)
    assert(r.getLong(2) == 1L)           // one panel query (id 17)
    assert(r.getLong(3) == 10L)          // exact side is 10 deep
    assert(r.getDouble(5) >= 0.8, r)     // cluster structure survives
  }

  test("bqCoded: strict > threshold (identical corpus codes all-zero) and msb-first packing") {
    import spark.implicits._
    // three identical vectors: every dim sits exactly AT its corpus
    // mean, so strict > codes all-zero everywhere (≥ would code
    // all-ones — the boundary this test pins)
    val same = Array.tabulate(64)(i => (if (i % 3 == 0) 1f else -1f))
    val dirSame = fixtureDir("embeddings" ->
      (0L until 3L).map(id => (id, same, 0)).toDF("vec_id", "embedding", "label"))
    val s0 = Similarity.bqCoded(graft.Tables.embeddings(spark, dirSame))
      .select("vec_id", "w0", "w1").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(s0 == Set((0L, 0L)))
    // A is +1 on dim 1 only (B is −1 everywhere): the single set bit
    // is dim 1 = the msb of w0 → w0 = 2^31, w1 = 0
    val a = Array.tabulate(64)(i => if (i == 0) 1f else -1f)
    val b = Array.fill(64)(-1f)
    val dirAb = fixtureDir("embeddings" ->
      Seq((0L, a, 0), (1L, b, 0)).toDF("vec_id", "embedding", "label"))
    val got = Similarity.bqCoded(graft.Tables.embeddings(spark, dirAb))
      .select("vec_id", "w0", "w1").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(0L) == ((2147483648L, 0L))) // bit for dim 1 lands msb-first
    assert(got(1L) == ((0L, 0L)))
  }

  test("bqIndex: a mid-session rewrite of the corpus displaces the pin (dirStamp fingerprint)") {
    import spark.implicits._
    // the gramIndex twin (round-11 review fix): the serving tier's
    // cached thresholds + coded corpus must follow a data rewrite
    val va = Array.tabulate(64)(_ => 1f)
    val vb = Array.tabulate(64)(_ => 3f)
    val d = fixtureDir("embeddings" ->
      (0L until 2L).map(id => (id, va, 0)).toDF("vec_id", "embedding", "label"))
    val (ts1, _) = Similarity.bqIndex(spark, d)
    assert(ts1.forall(_ == 1000000L)) // mean of identical 1.0f dims
    // no sleep: dirStamp folds part-file names + sizes, so a same-tick
    // rewrite still displaces (overwrite generates fresh task UUIDs)
    (0L until 2L).map(id => (id, vb, 0)).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val (ts2, coded2) = Similarity.bqIndex(spark, d)
    assert(ts2.forall(_ == 3000000L), ts2.take(3)) // fresh thresholds, not stale
    assert(coded2.count() == 2L)
    // unchanged data: the pin is reused (same stamp, same relation)
    assert(Similarity.bqIndex(spark, d)._2 eq Similarity.bqIndex(spark, d)._2)
  }

  test("bqRecall: rerank depth >= candidate count makes the rescore exact — recall 1.0") {
    import spark.implicits._
    // 40 vectors (39 candidates < BqRerank = 50): the Hamming
    // shortlist necessarily contains the exact top-10, so the float
    // rescore must restore the brute-force ranking bit-for-bit —
    // any loss here is a rescore bug, not quantization error.
    val rnd = new scala.util.Random(11)
    val rows = (0L until 40L).map { id =>
      val axis = (id / 10).toInt * 16
      val v = Array.tabulate(64)(i =>
        (if (i == axis) 1.0 else 0.0) + 0.05 * rnd.nextGaussian())
      (id, v.map(_.toFloat), 0)
    }
    val dir = fixtureDir("embeddings" ->
      rows.toDF("vec_id", "embedding", "label"))
    val r = Similarity.bqRecall(spark, dir).collect().head
    assert(r.getInt(0) == 64)                    // bits
    assert(r.getInt(1) == Similarity.BqRerank)   // rerank_r
    assert(r.getInt(2) == 10)                    // k
    assert(r.getLong(3) == 1L)                   // one panel query (id 17)
    assert(r.getLong(4) == 10L)
    assert(r.getLong(5) == 10L)
    assert(r.getDouble(6) == 1.0, r)
  }

  test("bm25TopK: hand-computed Okapi scores — idf, tf saturation, length normalization, self-exclusion") {
    import spark.implicits._
    // 60 docs → panel = {17} (stride 50, offset 17, seed 0/50 excluded).
    // Query 17 "rare common"; candidates 1 (rare ×1, dl 3), 2 (common
    // ×2, dl 3), 3 (rare ×3, dl 3). Every other doc is a 2-token filler
    // so N, df, and Σdl are exact knowns.
    val special = Map(
      17L -> "rare common",
      1L -> "rare f1a f1b",
      2L -> "common common f2a",
      3L -> "rare rare rare")
    val docs = (0L until 60L).map(i =>
      (i, special.getOrElse(i, s"u$i v$i"), "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val embs = (0L until 60L).map(i => (i, Array.fill(4)(0f), 0))
      .toDF("vec_id", "embedding", "label")
    val dir = fixtureDir("documents" -> docs, "embeddings" -> embs)
    // replicate the engine's exact arithmetic (same IEEE ops, same order)
    val nDocs = 60L
    val dlSum = 56L * 2 + 3 * 3 + 2 // fillers + docs 1,2,3 + query
    def idfFp(df: Long): Long =
      math.floor(math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0) * 1e6 + 0.5).toLong
    def termFp(idf: Long, tf: Long, dl: Long): Long = {
      val den = tf.toDouble +
        1.2 * (0.25 + 0.75 * ((dl * nDocs).toDouble / dlSum))
      math.floor(idf.toDouble / 1000000.0 * (tf.toDouble * 2.2) / den
        * 1000000000.0 + 0.5).toLong
    }
    def scoreOf(fp: Long): Double =
      BigDecimal(fp.toDouble / 1000000000.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val fp1 = termFp(idfFp(3), 1, 3) // doc 1: rare ×1 (df 3: docs 17,1,3)
    val fp2 = termFp(idfFp(2), 2, 3) // doc 2: common ×2 (df 2: docs 17,2)
    val fp3 = termFp(idfFp(3), 3, 3) // doc 3: rare ×3
    val got = Similarity.bm25TopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val want = Seq((fp1, 1L), (fp2, 2L), (fp3, 3L))
      .sortBy { case (fp, id) => (-fp, id) }
      .zipWithIndex
      .map { case ((fp, id), i) => (17L, id, scoreOf(fp), i + 1) }
    assert(got.toSeq == want, got.mkString(","))
    // rarer term (df 2 < 3) outweighs at equal tf/dl; tf saturates
    // (tf 3 scores < 3× tf 1); the query doc never ranks itself
    assert(idfFp(2) > idfFp(3))
    assert(fp3 < 3 * fp1)
    assert(!got.exists(_._2 == 17L))
  }

  test("domainStats: per-source gate, dup, lang, and token rollups on a crafted two-source corpus") {
    import spark.implicits._
    // gate knowns: "the a of and is" passes (z_fp = 98,283,140);
    // single-token docs fail (z_fp = -2e7). s1 carries an exact dup
    // pair; cross-source dup (docs 3 vs 6) must NOT count.
    val pass5 = "the a of and is"
    val docs = Seq(
      (1L, pass5, "en", "s1", 1L),
      (2L, pass5, "en", "s1", 1L),   // within-source exact dup of 1
      (3L, "solo", "de", "s1", 1L),  // gate fail
      (4L, pass5 + " x", "en", "s2", 1L),
      (5L, "solo2", "es", "s2", 1L), // gate fail
      (6L, "solo", "fr", "s2", 1L))  // gate fail; dup of 3 but ACROSS sources
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = fixtureDir("documents" -> docs)
    val got = TextAnalysis.domainStats(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getLong(6), r.getDouble(7)))
    assert(got.toSeq == Seq(
      ("s1", 3L, 2L, 11L, 2L, 0.666667, 2L, 0.666667),
      ("s2", 3L, 3L, 8L, 1L, 0.333333, 0L, 0.0)))
  }

  test("zipf_fit: slope/intercept/r2 match an independent least-squares fold over the snapped head") {
    // frequencies 6, 3, 2, 1: word 'a' ×6, 'b' ×3, 'c' ×2, 'd' ×1,
    // spread over docs; ranks tie-break (freq DESC, word ASC)
    val dir = fixtureDir("documents" -> Seq(
      (1L, "a a a b b c", "en", "s", 1L),
      (2L, "a a a b c d", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = operators.TextAnalysis.zipfFit(spark, dir).collect().head
    val freqs = Seq(6L, 3L, 2L, 1L) // rank order after the tie-break
    def snap(v: Double): Long = math.floor(v * 1000000 + 0.5).toLong
    val pts = freqs.zipWithIndex.map { case (c, i) =>
      (snap(math.log((i + 1).toDouble)), snap(math.log(c.toDouble)))
    }
    val n = pts.size.toLong
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val (sxx, syy) = (pts.map(p => p._1 * p._1).sum, pts.map(p => p._2 * p._2).sum)
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val slope = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
    assert(got.getLong(0) == n)
    assert(got.getDouble(1) == r6(slope))
    assert(got.getDouble(2) == r6((sy.toDouble - slope * sx.toDouble) / n / 1e6))
    assert(got.getDouble(3) == r6(slope * ((n * sxy - sx * sy).toDouble /
      (n * syy - sy * sy).toDouble)))
    // a Zipf-ish head fits with a negative slope and high r²
    assert(got.getDouble(1) < 0 && got.getDouble(3) > 0.9)
  }

  test("embed_stats: per-dim mean/std/min/max over the exact 1e-6 grid") {
    val dir = fixtureDir("embeddings" -> Seq(
      (0L, vec(1.0, -2.0, 0.5, 0), 0),
      (1L, vec(3.0, 2.0, 0.5, 0), 0))
      .toDF("vec_id", "embedding", "label"))
    val got = operators.Similarity.embedStats(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == Seq(
      (1, 2L, 1.0, 3.0, 2.0, 1.0),   // mean 2, pop std 1
      (2, 2L, -2.0, 2.0, 0.0, 2.0),
      (3, 2L, 0.5, 0.5, 0.5, 0.0),
      (4, 2L, 0.0, 0.0, 0.0, 0.0)))
  }

  test("media_dedup: per-type storage accounting — bytes_saved counts every copy beyond the first") {
    // src0 → image: 'dup' ×3 (7 bytes each) + one distinct;
    // src1 → audio: all distinct; src2 → video: 'vv' ×2 (2 bytes)
    val dir = fixtureDir("documents" -> Seq(
      (1L, "dup dup", "en", "src0", 1L),
      (2L, "dup dup", "en", "src0", 1L),
      (3L, "dup dup", "en", "src0", 1L),
      (4L, "solo one", "en", "src0", 1L),
      (5L, "alpha", "en", "src1", 1L),
      (6L, "beta", "en", "src1", 1L),
      (7L, "vv", "en", "src2", 1L),
      (8L, "vv", "en", "src2", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = operators.Multimodal.mediaDedup(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      ("audio", 2L, 2L, 0L, 0L),
      ("image", 2L, 4L, 1L, 14L),  // 2 extra copies × 7 bytes
      ("video", 1L, 2L, 1L, 2L)))  // 1 extra copy × 2 bytes
  }

  test("s_domain_stats: window boundary and per-source pass rates pinned") {
    // ts = 86400 + doc_id: ids 1..59 land in the first window
    // [86400, 86460); id 60 opens the next. Source A alternates a
    // passing 30-distinct-token text with a failing repeated one.
    def dist30(p: String) = (0 until 30).map(i => s"$p$i").mkString(" ")
    val rows = Seq(
      (1L, "sa", dist30("a")),          // pass
      (2L, "sa", "x x x x x"),          // fail (dup-ratio)
      (3L, "sb", dist30("b")),          // pass
      (60L, "sa", dist30("c")))         // next window
    val dir = fixtureDir("documents" -> rows.map { case (id, src, t) =>
      (id, t, "en", src, 1L) }.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = graft.streaming.DomainHealth.sDomainStats(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(4),
        r.getDouble(5)))
    assert(got.toSeq == Seq(
      (86400000L, "sa", 2L, 1L, 0.5),
      (86400000L, "sb", 1L, 1L, 1.0),
      (86460000L, "sa", 1L, 1L, 1.0)))
  }
}
