package graft

import org.apache.spark.sql.functions._

import graft.ops._

class OpsSpec extends SparkSuite {
  import spark.implicits._

  // --- TextAnalysis --------------------------------------------------------

  test("tokenCount / distinct / fingerprint basics") {
    val df = Seq(
      (1L, "the quick brown fox"),
      (2L, "  the   quick  "),
      (3L, ""),
      (4L, "a a a")).toDF("id", "text")
    val got = df.select($"id",
      TextAnalysis.tokenCount($"text").as("n"),
      TextAnalysis.distinctTokenCount($"text").as("d"),
      TextAnalysis.fingerprint($"text").as("fp"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got === Set((1L, 4, 4), (2L, 2, 2), (3L, 0, 0), (4L, 3, 1)))
    // fingerprint is whitespace/case-normalized
    val fps = df.select(TextAnalysis.fingerprint($"text")).collect().map(_.getString(0))
    val fp2 = Seq("THE QUICK").toDF("text")
      .select(TextAnalysis.fingerprint($"text")).collect().head.getString(0)
    assert(fps(1) === fp2)
  }

  test("langId picks marker-dominant language, und for no hits") {
    val df = Seq("the cat and the dog is here", "der hund und die katze ist",
      "le chat et la maison est", "el perro y la casa es", "xyzzy plugh").toDF("text")
    val got = df.select(TextAnalysis.langId($"text")).collect().map(_.getString(0))
    assert(got === Array("en", "de", "fr", "es", "und"))
  }

  test("qualityScore in [0,1] and favors diverse mid-length text") {
    val good = Seq(("w1 " * 50).trim).toDF("text")
      .select(TextAnalysis.qualityScore($"text")).head.getDouble(0)
    val diverse = Seq((1 to 50).map(i => s"w$i").mkString(" ")).toDF("text")
      .select(TextAnalysis.qualityScore($"text")).head.getDouble(0)
    assert(good >= 0 && good <= 1 && diverse > good)
  }

  // --- Dedup ---------------------------------------------------------------

  val dupDocs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta"),
    (2L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
    (3L, "alpha beta gamma delta epsilon eta"), // near dup of 1
    (4L, "one two three four five six seven"),
    (5L, "completely different words entirely here now")).toDF("doc_id", "text")

  test("exactGroups finds exact duplicates only") {
    val g = Dedup.exactGroups(dupDocs, "doc_id", "text").collect()
    assert(g.length === 1)
    assert(g.head.getAs[Long]("keep_id") === 1L)
    assert(g.head.getAs[Long]("group_size") === 2L)
  }

  test("minhash: identical texts get est_jaccard 1.0; near-dups caught") {
    val pairs = Dedup.minhashCandidates(dupDocs, "doc_id", "text",
      k = 2, numHashes = 32, bands = 16)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) > 0.3)
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((4L, 5L)))
  }

  test("ngramJaccard exact similarity on candidates") {
    val cands = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val j = References.ngramJaccard(cands, dupDocs, "doc_id", "text", k = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("jaccard"))).toMap
    assert(j((1L, 2L)) === 1.0)
    assert(j((1L, 3L)) > 0.5 && j((1L, 3L)) < 1.0) // 4 of 6 bigrams shared
  }

  test("simhash: identical -> distance 0; near-dups closer than unrelated") {
    // blocked pair search is lossless only for maxDist <= 3 (pigeonhole on
    // 4 quarters); identical texts are always found at distance 0
    val pairs = Dedup.simhashPairs(dupDocs, "doc_id", "text", maxDist = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 2L)) === 0)
    // distance ordering property, measured directly on the hashes
    val h = dupDocs.select($"doc_id", Dedup.simhash($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def dist(a: Long, b: Long): Int = java.lang.Long.bitCount(h(a) ^ h(b))
    assert(dist(1L, 2L) === 0)
    assert(dist(1L, 3L) < dist(1L, 5L)) // near-dup closer than unrelated
  }

  test("cosine similarity: parallel=1, orthogonal=0") {
    val df = Seq(
      (1L, Seq(1f, 0f, 0f), 0),
      (2L, Seq(2f, 0f, 0f), 0),
      (3L, Seq(0f, 1f, 0f), 0)).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.cosineNearDups(df, "vec_id", "embedding", "label", -1.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs((1L, 3L)) === 0.0)
  }

  // --- Similarity ----------------------------------------------------------

  def randVecs(n: Int, dim: Int, seed: Long): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat() * 2 - 1)))
  }

  test("bruteForceTopK matches naive driver-side computation") {
    val vecs = randVecs(200, 16, 7L)
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs.head._2.toArray
    val got = Similarity.bruteForceTopK(df.filter($"vec_id" =!= 0), "vec_id", "embedding", q, 5)
      .collect().map(_.getLong(0))
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val expect = vecs.tail
      .map { case (id, v) => (id, math.rint(cos(v, q.toSeq) * 1e6) / 1e6) }
      .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
    assert(got.toSeq === expect)
  }

  test("ANN LSH: query bucket contains the query's near-identical vector") {
    val vecs = randVecs(200, 16, 11L)
    // plant a near-identical copy of vector 0 as id 999
    val planted = vecs :+ (999L, vecs.head._2.map(x => x * 1.0001f))
    val df = planted.toDF("vec_id", "embedding")
    val q = vecs.head._2.toArray
    val planes = Similarity.hyperplanes(16, 4, seed = 5L)
    val got = Similarity.annTopK(df.filter($"vec_id" =!= 0), "vec_id", "embedding",
      q, 5, planes).collect().map(_.getLong(0))
    assert(got.contains(999L)) // same bucket by construction (tiny perturbation)
  }

  test("knnJoin: bounded top-k agg matches naive per-probe ranking (incl. ties)") {
    val vecs = randVecs(120, 8, 13L)
    val df = vecs.toDF("vec_id", "embedding")
    val probes = df.filter($"vec_id" < 4)
    val got = Similarity.knnJoin(df, probes, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val expect = (0 until 4).flatMap { p =>
      val pv = vecs(p)._2
      vecs.filter(_._1 != p)
        .map { case (id, v) => (id, math.rint(cos(v, pv) * 1e6) / 1e6) }
        .sortBy { case (id, c) => (-c, id) }.take(5).zipWithIndex
        .map { case ((id, c), i) => (p.toLong, id, c, i + 1) }
    }
    assert(got.toSeq === expect)
  }

  test("knnJoin fails fast on non-numeric ids and oversized probe sets") {
    val vecs = randVecs(20, 8, 17L)
    val df = vecs.toDF("vec_id", "embedding")
    val strIds = df.selectExpr("concat('id', vec_id) AS vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.knnJoin(strIds, strIds.limit(2), "vec_id", "embedding", 3)
    }
    assert(e1.getMessage.contains("must be numeric"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.knnJoin(df, df, "vec_id", "embedding", 3, maxProbes = 10)
    }
    assert(e2.getMessage.contains("maxProbes"))
  }

  test("TopKByScore heap: under-full, ties, eviction order") {
    import graft.functions.TopKByScore
    val b = new TopKByScore.Buffer(3)
    Seq((0.5, 10L), (0.9, 4L), (0.9, 2L), (0.1, 7L), (0.7, 1L)).foreach {
      case (s, id) => b.add(s, id)
    }
    // kept: the 3 best by (score desc, id asc) = (0.9,2),(0.9,4),(0.7,1)
    assert(b.sortedDesc.toSeq === Seq((0.9, 2L), (0.9, 4L), (0.7, 1L)))
    val small = new TopKByScore.Buffer(5)
    small.add(0.3, 1L); small.add(0.8, 2L)
    assert(small.sortedDesc.toSeq === Seq((0.8, 2L), (0.3, 1L)))
  }

  test("CollectSigsCapped buffer: cap, exact totals across merges, serde round trip") {
    import graft.functions.CollectSigsCapped
    def buf(cap: Int, entries: (Long, Array[Long])*): CollectSigsCapped.Buffer = {
      val b = new CollectSigsCapped.Buffer(cap)
      entries.foreach { case (id, s) => b.add(id, s) }
      b
    }
    val sig = Array(1L, 2L)
    // under cap: all retained, sorted by id at output
    val under = buf(3, 5L -> sig, 2L -> sig, 9L -> sig)
    assert(!under.overflowed && under.sortedById._1.toSeq === Seq(2L, 5L, 9L))
    // crossing the cap frees retained entries and keeps counting
    val over = buf(3, 1L -> sig, 2L -> sig, 3L -> sig, 4L -> sig)
    assert(over.overflowed && over.size === 0 && over.total === 4)
    // merge of two under-cap partials that TOGETHER exceed the cap drops
    val a = buf(3, 1L -> sig, 2L -> sig)
    a.mergeFrom(buf(3, 3L -> sig, 4L -> sig))
    assert(a.overflowed && a.total === 4)
    // merge staying under the cap retains everything with the exact total
    val c = buf(4, 1L -> sig, 2L -> sig)
    c.mergeFrom(buf(4, 3L -> sig))
    assert(!c.overflowed && c.total === 3 && c.sortedById._1.toSeq === Seq(1L, 2L, 3L))
    // merging an overflowed partial (count-only on the wire) poisons the target
    val d = buf(3, 1L -> sig)
    d.mergeFrom(over)
    assert(d.overflowed && d.total === 5)
    // RAGGED sig widths survive the wire in both insertion orders (the
    // uniform-width header either crashed or silently truncated)
    val agg = CollectSigsCapped(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(lit(0L)),
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(lit(0L)), 5)
    for (entries <- Seq(
        Seq(5L -> Array(1L, 2L), 3L -> Array(9L)),
        Seq(3L -> Array(9L), 5L -> Array(1L, 2L)))) {
      val rt = agg.deserialize(agg.serialize(buf(5, entries: _*)))
      val (ids, sigs) = rt.sortedById
      assert(ids.toSeq === Seq(3L, 5L) && rt.total === 2)
      assert(sigs.map(_.toSeq).toSeq === Seq(Seq(9L), Seq(1L, 2L)))
    }
  }

  test("minhashCandidates fused guard == two-pass guard semantics") {
    // 8 docs share a degenerate text (one hot bucket per band), 4 docs form
    // two distinct near-dup pairs; cap sits below the hot-bucket size
    val hot = (0 until 8).map(i => (i.toLong, "the same exact text every time"))
    // exact clones: every band matches, so the pair is deterministic (a
    // near-dup's band match is probabilistic — wrong thing to pin a
    // guard-semantics test on)
    val pairsRows = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "alpha beta gamma delta epsilon zeta"),
      (200L, "one two three four five six seven"),
      (201L, "one two three four five six seven"))
    val df = (hot ++ pairsRows).toDF("doc_id", "text")
    val got = Dedup.minhashCandidates(df, "doc_id", "text", maxBucketSize = 6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every hot-doc bucket exceeds the cap -> no pairs among ids 0-7
    assert(got.forall { case (x, y) => x >= 100L && y >= 100L },
      s"degenerate bucket must be dropped, got $got")
    assert(got.contains((100L, 101L)) && got.contains((200L, 201L)))
  }

  test("repetitionMetrics: exact values on crafted docs") {
    import graft.ops.Curation
    val df = Seq(
      (1L, "a b a b a c"),          // bigrams: ab,ba,ab,ba,ac -> top 2/5
      (2L, "x y\nx y\nz"),          // 3 lines, 1 dup; chars 3+3+1, dup 3
      (3L, "one two three four five one two three four five"), // doubled
      (4L, "single"),               // 1 token: no bigrams, no 5-grams
      (5L, ""),                     // empty text
      (6L, null.asInstanceOf[String]) // NULL text: all metrics 0, not NULL
    ).toDF("doc_id", "text")
    val m = Curation.repetitionMetrics(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(m(1L) === ((1, 0.0, 0.0, 0.4, 0.0)))
    assert(m(2L)._1 === 3)
    assert(m(2L)._2 === 0.333333) // 1 of 3 lines is a repeat
    assert(m(2L)._3 === 0.428571) // 3 of 7 line-chars sit in the repeat
    // doc 3: 10 tokens doubled; 9 bigram slots, "five one" unique, rest dup;
    // 6 5-gram slots, 5 distinct -> dup 1/6
    assert(m(3L)._4 === 0.222222) // each of the 4 repeated bigrams hits 2/9
    assert(m(3L)._5 === 0.166667)
    assert(m(4L) === ((1, 0.0, 0.0, 0.0, 0.0)))
    assert(m(5L) === ((1, 0.0, 0.0, 0.0, 0.0)))
    // a NULL metric would silently pass `metric > threshold` drop gates
    assert(m(6L) === ((0, 0.0, 0.0, 0.0, 0.0)))
  }

  test("contamination: benchmark docs score 1.0, disjoint docs 0, partial overlap exact") {
    import graft.ops.Curation
    val docs = Seq(
      (1L, "alpha beta gamma delta"),        // the "benchmark" doc
      (2L, "alpha beta gamma something else"), // shares 1 of its 3 shingles
      (3L, "totally different words here"),  // disjoint
      (4L, "xy")                             // too short: no shingles
    ).toDF("doc_id", "text")
    val bench = Curation.benchmarkShingles(docs.filter($"doc_id" === 1L), "text")
    val got = Curation.contamination(docs, "doc_id", "text", bench)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) === ((2, 2L, 1.0)))
    assert(got(2L) === ((3, 1L, 0.333333)))
    assert(got(3L) === ((2, 0L, 0.0)))
    assert(got(4L) === ((0, 0L, 0.0)))
  }

  test("dedupLines: first occurrence wins across and within docs; survivors reassemble in order") {
    import graft.ops.Curation
    val df = Seq(
      (1L, "a\nb\na"), // 'a' repeats within the doc
      (2L, "b\nc"),    // 'b' already seen in doc 1
      (3L, "a"),       // fully duplicate doc -> dedups to empty
      (4L, "d")        // untouched
    ).toDF("doc_id", "text")
    val got = Curation.dedupLines(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(got(1L) === ((3, 2, "a\nb")))
    assert(got(2L) === ((2, 1, "c")))
    assert(got(3L) === ((1, 0, "")))
    assert(got(4L) === ((1, 1, "d")))
    // NULL text has no lines: absent from the output by contract
    val withNull = df.union(Seq((5L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    assert(Curation.dedupLines(withNull, "doc_id", "text").count() === 4)
  }

  test("dedupLines invariant: kept lines across the corpus = each distinct line exactly once") {
    import graft.ops.Curation
    val rnd = new scala.util.Random(11)
    val lines = (1 to 30).map(i => s"line$i")
    val docs = (1L to 40L).map { id =>
      id -> (1 to (1 + rnd.nextInt(6))).map(_ => lines(rnd.nextInt(lines.length)))
        .mkString("\n")
    }.toDF("doc_id", "text")
    val out = Curation.dedupLines(docs, "doc_id", "text").collect()
    val kept = out.flatMap(r => r.getString(3) match {
      case "" => Nil
      case t => t.split("\n").toSeq
    })
    val corpusDistinct = docs.collect()
      .flatMap(_.getString(1).split("\n")).distinct.sorted
    assert(kept.sorted.toSeq === corpusDistinct.toSeq) // once each, none lost
    assert(out.map(r => r.getInt(1)).sum ===
      docs.collect().map(_.getString(1).split("\n").length).sum)
  }

  test("redactPii: counts on raw text, fixed email->ip->phone order, clean text untouched") {
    import graft.ops.Curation
    val df = Seq(
      (1L, "write to a.b+c@ex-1.org or 10.0.0.1 call +44-201-555-0199"),
      (2L, "no pii here at all"),
      (3L, "two mails x@y.io and z@w.co plus 1.2.3.4 and 10.20.30.40")
    ).toDF("doc_id", "text")
    val got = Curation.redactPii(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toMap
    assert(got(1L) === ((1, 1, 1, "write to <EMAIL> or <IP> call <PHONE>")))
    assert(got(2L) === ((0, 0, 0, "no pii here at all")))
    assert(got(3L) === ((2, 2, 0, "two mails <EMAIL> and <EMAIL> plus <IP> and <IP>")))
  }

  test("urlAudit: extraction, blocklist verdicts, URL-free docs keep NULL first_domain") {
    import graft.ops.Curation
    val df = Seq(
      (1L, "x https://spam.example.com/a?q=1 y http://good.org/b"),
      (2L, "plain text"),
      (3L, "ref https://docs.example.io/guide end")
    ).toDF("doc_id", "text")
    val got = Curation.urlAudit(df, "doc_id", "text", Seq("spam.example.com"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), Option(r.getString(3)), r.getBoolean(4))).toMap
    assert(got(1L) === ((2, 1, Some("spam.example.com"), false)))
    assert(got(2L) === ((0, 0, None, true)))
    assert(got(3L) === ((1, 0, Some("docs.example.io"), true)))
    intercept[IllegalArgumentException] {
      Curation.urlAudit(df, "doc_id", "text", Seq.empty)
    }
  }

  test("vocabulary: exact tf/df/idf, minCount filter, nDocs override, NULL text excluded") {
    import graft.ops.TextAnalysis
    val df = Seq(
      (1L, "a b a"),
      (2L, "b c"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis.vocabulary(df, "doc_id", "text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // n_docs = 2: the NULL-text doc is no vocabulary evidence
    assert(got === Map(
      "a" -> ((2L, 1L, 0.693147)),
      "b" -> ((2L, 2L, 0.0)),
      "c" -> ((1L, 1L, 0.693147))))
    assert(TextAnalysis.vocabulary(df, "doc_id", "text", minCount = 2)
      .collect().map(_.getString(0)).toSet === Set("a", "b"))
    // table-stats path: caller-supplied corpus size skips the count pass
    val over = TextAnalysis.vocabulary(df, "doc_id", "text", nDocs = Some(4))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(over("b") === 0.693147) // ln(4/2)
  }

  test("tfidfKeywords: exact scores, score-desc/token-asc ties, short docs emit fewer rows") {
    import graft.ops.TextAnalysis
    val df = Seq((1L, "a a b c"), (2L, "b c d"), (3L, "d d d e")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfKeywords(df, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getString(2), r.getDouble(3)))).toMap
    // n_docs=3; idf: a,e = ln 3, b,c,d = ln 1.5
    assert(got((1L, 1)) === (("a", 2.197225))) // 2·ln3
    assert(got((1L, 2)) === (("b", 0.405465))) // tie with c -> token asc
    assert(got((1L, 3)) === (("c", 0.405465)))
    assert(got((2L, 1)) === (("b", 0.405465))) // three-way tie -> b,c,d
    assert(got((2L, 2)) === (("c", 0.405465)))
    assert(got((2L, 3)) === (("d", 0.405465)))
    assert(got((3L, 1)) === (("d", 1.216395))) // 3·ln1.5 beats ln3
    assert(got((3L, 2)) === (("e", 1.098612)))
    assert(got.size === 8) // doc 3 has only 2 distinct tokens
    // a precomputed idf map (built once, reused across calls/batches)
    // yields the identical result with no vocab job at call time
    val pre = TextAnalysis.idfMap(df, "doc_id", "text")
    val reused = TextAnalysis.tfidfKeywords(df, "doc_id", "text", k = 3,
      idf = Some(pre))
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getString(2), r.getDouble(3)))).toMap
    assert(reused === got)
  }

  test("cosineNearDupsLsh: exact clones always found; pairs subset of unblocked truth") {
    val rnd = new scala.util.Random(23)
    def unit(d: Int): Array[Float] = {
      val v = Array.fill(d)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val base = (0L until 60L).map(i => (i, unit(16)))
    val clones = base.filter(_._1 % 10 == 0).map { case (i, v) => (i + 1000, v) }
    val df = (base ++ clones).toDF("id", "vec")
    val got = Dedup.cosineNearDupsLsh(df, "id", "vec", threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact clones are at angle 0 -> always same bucket -> always found
    val planted = base.filter(_._1 % 10 == 0).map(p => (p._1, p._1 + 1000)).toSet
    assert(planted.subsetOf(got), s"missing planted clones: ${planted -- got}")
    // LSH blocking can only MISS pairs relative to the all-pairs truth,
    // never invent them
    val truth = Dedup.cosineNearDups(
      df.withColumn("one", lit(1)), "id", "vec", "one", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(truth))
    // the degenerate-block guard all pair paths share: a block over the
    // cap is dropped entirely instead of pairing quadratically
    val capped = Dedup.cosineNearDups(
      df.withColumn("one", lit(1)), "id", "vec", "one", 0.95,
      maxBlockSize = 10)
    assert(capped.count() === 0)
  }

  test("semanticDedup: matches an in-memory argmin+union-find reference; " +
      "exact clones removed; unpaired rows keep; cross-cluster dups missed by design") {
    val rnd = new scala.util.Random(31)
    // three well-separated direction clusters around the first 3 axes
    def around(axis: Int): Array[Float] = {
      val v = Array.fill(4)((rnd.nextGaussian() * 0.05).toFloat)
      v(axis) = 1f
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val base = (0L until 45L).map(i => (i, around((i % 3).toInt)))
    val clones = base.filter(_._1 % 9 == 0).map { case (i, v) => (i + 1000, v) }
    val rows = base ++ clones
    val cents = Array(Array(1.0, 0, 0, 0), Array(0.0, 1, 0, 0), Array(0.0, 0, 1, 0))
    val got = Dedup.semanticDedup(rows.toDF("id", "vec"), "id", "vec",
        cents, threshold = 0.999)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3)))
      .sortBy(_._1)
    // reference: argmin assignment (ties to lower index), in-cluster pairs
    // at round-6 cosine >= t, union-find, keep = min id or unpaired
    def argmin(v: Array[Float]): Int =
      cents.zipWithIndex.map { case (c, i) =>
        (v.map(_.toDouble).zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, i)
      }.min._2
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val (d, na, nb) = a.zip(b).foldLeft((0.0, 0.0, 0.0)) {
        case ((s, x, y), (p, q)) =>
          (s + p.toDouble * q, x + p.toDouble * p, y + q.toDouble * q)
      }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byCluster = rows.groupBy { case (_, v) => argmin(v) }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long =
      if (parent.getOrElse(x, x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    val paired = scala.collection.mutable.Set[Long]()
    for ((_, members) <- byCluster; Seq((ia, va), (ib, vb)) <-
        members.sortBy(_._1).combinations(2) if cos(va, vb) >= 0.999) {
      paired += ia; paired += ib
      val (ra, rb) = (find(ia), find(ib))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = rows.map { case (i, v) =>
      val comp = if (paired(i)) Some(find(i)) else None
      (i, argmin(v), comp, comp.forall(_ == i))
    }.sortBy(_._1)
    assert(got.toSeq === want)
    // every planted exact clone is dropped (its original is the min id)
    clones.foreach { case (i, _) =>
      assert(!got.find(_._1 == i).get._4, s"clone $i must not survive") }
    // non-vacuity the other way: some rows are genuinely unpaired survivors
    assert(got.exists(g => g._3.isEmpty && g._4))
  }

  test("joinSizeProfile/joinSize: per-key products equal the real join's " +
      "group sizes; total equals the real join's count; nulls never match") {
    import graft.ops.Joins
    val rnd = new scala.util.Random(89)
    val a = (1 to 300).map(_ => (rnd.nextInt(12).toLong, rnd.nextInt(100)))
      .map { case (k, v) => (if (k == 11) null else Long.box(k), v) }
      .toDF("k", "va")
    val b = (1 to 200).map(_ => (rnd.nextInt(15).toLong, rnd.nextInt(100)))
      .map { case (k, v) => (if (k == 14) null else Long.box(k), v) }
      .toDF("k", "vb")
    // n_out is emitted as double (exact below 2^53 — these are small);
    // ranking/ties happen on the internal exact decimal before the cast
    val prof = Joins.joinSizeProfile(a, b, "k", "k", topK = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3).toLong))
    val real = a.join(b, "k").groupBy("k").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(prof.map(p => p._1 -> p._4).toMap === real)
    prof.foreach { case (_, na, nb, out) => assert(na * nb === out) }
    // descending n_out, key-asc ties
    assert(prof.map(p => (-p._4, p._1)).toSeq === prof.map(p => (-p._4, p._1)).sorted)
  }

  test("dupSpanStats: per-doc shared-span fractions match a string-level " +
      "reference; within-doc repeats don't count; blank docs absent") {
    val docs = Seq(
      (1L, "a b c d e"),          // spans: abc bcd cde
      (2L, "x a b c y"),          // shares 'a b c' with 1
      (3L, "a b c a b c"),        // distinct spans incl 'a b c'; self-repeat counted once
      (4L, "p q r s"),            // no shared span
      (5L, "  "), (6L, null.asInstanceOf[String]))
    val got = Dedup.dupSpanStats(docs.toDF("id", "text"), "id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
      .sortBy(_._1)
    def spans(t: String): Set[String] = {
      val toks = t.toLowerCase.trim.split("[\\s\\x0B]+", -1).toSeq
      (0 to math.max(toks.size - 3, 0)).map(i =>
        toks.slice(i, i + 3).mkString(" ")).toSet
    }
    val valid = docs.filter(d => d._2 != null && d._2.trim.nonEmpty)
    val all = valid.map { case (id, t) => id -> spans(t) }
    val want = all.map { case (id, sp) =>
      val dup = sp.count(s => all.exists { case (o, os) => o != id && os(s) })
      (id, sp.size, dup,
        BigDecimal(dup.toDouble / sp.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1)
    assert(got.toSeq === want)
    assert(got.map(_._1).toSet === Set(1L, 2L, 3L, 4L)) // blank/null absent
    assert(got.find(_._1 == 4L).get._3 === 0)
  }

  test("pqAdcTopK: end-to-end ADC ranking matches a driver reference built " +
      "from the trained codebooks; dim must divide into subspaces") {
    import graft.ops.Similarity
    import graft.functions.PqKernels
    val rnd = new scala.util.Random(71)
    val dim = 8; val m = 4; val k = 4
    val rows = (1L to 60L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("id", "vec")
    val cbs = Similarity.pqCodebooks(df, "id", "vec", m = m, k = k, iters = 2)
    assert(cbs.length === m && cbs.forall(_.length == k) &&
      cbs.forall(_.forall(_.length == dim / m)))
    val q = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val got = Similarity.pqAdcTopK(df, "id", "vec", q, 5, cbs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    // driver reference: same expanded-form argmin + lut sum + round 6
    val dsub = dim / m
    val lut = PqKernels.adcLut(q.map(_.toDouble), cbs)
    val want = rows.map { case (id, v) =>
      val codes = (0 until m).map { j =>
        val sv = v.slice(j * dsub, (j + 1) * dsub).map(_.toDouble)
        (0 until k).minBy(c => (sv.zip(cbs(j)(c)).map { case (a, b) =>
          (a - b) * (a - b) }.sum, c))
      }
      val adc = codes.zipWithIndex.map { case (c, j) => lut(j * k + c) }.sum
      (id, codes.head,
        BigDecimal(adc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, _, a) => (a, id) }.take(5)
    assert(got === want)
    // a non-divisible subspace count fails fast, not silently
    assertThrows[IllegalArgumentException] {
      Similarity.pqCodebooks(df, "id", "vec", m = 3, k = k)
    }
  }

  test("hashSplit: deterministic, append-stable, fractions near weights") {
    import graft.ops.Sampling
    val ids = (0L until 10000L).toDF("id")
    val split = Sampling.hashSplit(ids, "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum === 10000L)
    // hash buckets approximate the weights (binomial spread ~ +-3 sigma)
    assert(math.abs(counts("train") - 8000L) < 150, s"train=${counts("train")}")
    assert(math.abs(counts("val") - 1000L) < 120, s"val=${counts("val")}")
    assert(math.abs(counts("test") - 1000L) < 120, s"test=${counts("test")}")
    // append-stable: the first 1000 ids get the same label regardless of
    // what else is in the DataFrame or how it is partitioned
    val sub = Sampling.hashSplit(
      (0L until 1000L).toDF("id").repartition(7), "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val full = split.filter(col("id") < 1000)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sub === full)
  }

  test("mixtureSample: >32-source weight maps take the broadcast-map path, same values") {
    import graft.ops.Sampling
    val df = (0L until 300L).map(i => (i, s"src${i % 40}")).toDF("id", "src")
    // 40 sources: one real weight per source, rest of the map padding
    val weights = (0 until 40).map(i => s"src$i" -> (if (i == 3) 2.0 else 1.0)).toMap
    val big = Sampling.mixtureSample(df, "id", "src", weights)
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // identical to the small-map when-chain on a trimmed-but-equivalent map
    val small = Sampling.mixtureSample(df, "id", "src", Map("src3" -> 2.0))
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(big === small)
    assert(big("src3") === 16L) // 8 ids x 2 copies
  }

  test("uniformSample: exact k, matches the global-sort truth, partition-independent") {
    import graft.ops.Sampling
    val df = (0L until 500L).toDF("id")
    val got = Sampling.uniformSample(df, "id", 20)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got.size === 20)
    // truth: the same hash-double ordering as a global sort
    val truth = df
      .withColumn("h", xxhash64($"id".cast("long")).cast("double"))
      .orderBy($"h".asc, $"id".asc).limit(20)
      .collect().map(_.getLong(0))
    assert((1 to 20).map(got) === truth.toSeq)
    // reproducible across partitionings (randomSplit is not)
    val re = Sampling.uniformSample(df.repartition(13), "id", 20)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(re === got)
    // non-numeric ids would cast to NULL and silently sample nothing:
    // fail fast instead
    intercept[IllegalArgumentException] {
      Sampling.uniformSample(df.select($"id".cast("string").as("id")), "id", 5)
    }
  }

  test("mixtureSample: copy counts, drop, default weight, determinism, split decorrelation") {
    import graft.ops.Sampling
    val df = (0L until 3000L).map(i =>
      (i, Seq("a", "b", "c", "d")((i % 4).toInt))).toDF("id", "src")
    val out = Sampling.mixtureSample(df, "id", "src",
      Map("a" -> 2.0, "b" -> 0.5, "c" -> 0.0)) // d defaults to 1.0
    val byS = out.groupBy("src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byS("a") === 1500L) // integer weight: exactly 2 copies each
    assert(byS.get("c").isEmpty) // weight 0: dropped entirely
    assert(byS("d") === 750L) // default 1.0: pass-through
    assert(math.abs(byS("b") - 375L) < 60) // ~50% of 750, hash spread
    // copy indices are dense 0..k-1
    val aCopies = out.filter($"src" === "a").groupBy("id")
      .agg(collect_list("copy")).collect()
    assert(aCopies.forall(_.getSeq[Int](1).sorted == Seq(0, 1)))
    // deterministic and partition-independent
    val again = Sampling.mixtureSample(df.repartition(13), "id", "src",
      Map("a" -> 2.0, "b" -> 0.5, "c" -> 0.0))
      .select("id", "copy").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(again === out.select("id", "copy").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet)
    // decorrelated from the split hash: the fractionally-kept 'b' rows
    // must not concentrate inside one split label
    val bKept = out.filter($"src" === "b").select("id")
    val splits = Sampling.hashSplit(bKept, "id",
      Seq("train" -> 0.8, "val" -> 0.2)).groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val frac = splits("train").toDouble / (splits("train") + splits("val"))
    assert(frac > 0.7 && frac < 0.9, s"train fraction $frac drifted")
  }

  test("quotaSample == the window formulation it replaces") {
    import graft.ops.Sampling
    val rnd = new scala.util.Random(3)
    val rows = (0 until 400).map { i =>
      (i.toLong, s"g${i % 7}", math.floor(rnd.nextDouble() * 100) / 100)
    }
    val df = rows.toDF("id", "grp", "score")
    val got = Sampling.quotaSample(df, Seq("grp"), "id", "score", 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    import org.apache.spark.sql.expressions.Window
    val expect = df.withColumn("rn", row_number().over(
      Window.partitionBy("grp").orderBy(col("score").desc, col("id").asc)))
      .filter(col("rn") <= 3).select("grp", "id", "score")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expect)
  }

  test("connectedComponents: transitivity, multi-component, dup/self edges, canonical ids") {
    import graft.ops.Clustering
    // two components: a 4-chain (transitive closure without direct edges)
    // and a 2-clique, plus duplicate and self edges that must be ignored
    val edges = Seq(
      (10L, 7L), (7L, 22L), (22L, 31L), // chain: {7, 10, 22, 31}
      (100L, 90L), (90L, 100L), (100L, 100L) // clique {90, 100} + noise
    ).toDF("id_a", "id_b")
    val got = Clustering.connectedComponents(edges, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(7L -> 7L, 10L -> 7L, 22L -> 7L, 31L -> 7L,
      90L -> 90L, 100L -> 90L))
    // empty pair graph (and self-loop-only input) -> empty components, no NPE
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Clustering.connectedComponents(none, "id_a", "id_b").count() === 0)
    val selfOnly = Seq((1L, 1L), (2L, 2L)).toDF("id_a", "id_b")
    assert(Clustering.connectedComponents(selfOnly, "id_a", "id_b").count() === 0)
  }

  test("connectedComponents: pointer doubling converges a 64-chain in O(log n) rounds") {
    import graft.ops.Clustering
    // worst case for plain min-propagation: a descending chain where the
    // min sits at the far end — 63 rounds without doubling. maxIter = 10
    // only passes because label-paths halve each round.
    val chain = (1 until 64).map(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")
    val got = Clustering.connectedComponents(chain, "id_a", "id_b", maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 64 && got.values.forall(_ === 1L))
  }

  test("blockedNgramPairs drops oversized blocks, keeps small ones") {
    // hot block: 12 rows sharing (lang=en, n=1); cold block: 3 similar rows
    val hot = (0 until 12).map(i => (100L + i, "en", 1, "common shared text body"))
    val cold = Seq(
      (1L, "fr", 2, "alpha beta gamma delta"),
      (2L, "fr", 2, "alpha beta gamma epsilon"),
      (3L, "fr", 2, "unrelated words entirely different"))
    val df = (hot ++ cold).toDF("doc_id", "lang", "n", "text")
    val pairs = Dedup.blockedNgramPairs(df, "doc_id", "text", Seq("lang", "n"),
      k = 2, maxBlockSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 12-row block exceeds the cap -> no pairs from it; cold block kept
    assert(pairs.forall { case (a, b) => a < 100L && b < 100L })
    assert(pairs.contains((1L, 2L)))
    // raising the cap brings the hot block back
    val all = Dedup.blockedNgramPairs(df, "doc_id", "text", Seq("lang", "n"),
      k = 2, maxBlockSize = 100).count()
    assert(all === 12L * 11 / 2 + 3)
  }

  test("blockedNgramPairs prefix-filter mode returns exactly the all-pairs " +
      "results at or above the threshold") {
    // a mixed corpus inside one block: exact clones (J=1), a one-token
    // tail edit (J just above 0.5 at k=2), a borderline-below pair, and
    // unrelated word salad — plus a second block and an empty doc
    val docs = Seq(
      (1L, "en", 1, "the quick brown fox jumps over the lazy dog"),
      (2L, "en", 1, "the quick brown fox jumps over the lazy dog"),   // clone of 1
      (3L, "en", 1, "the quick brown fox jumps over the lazy cat"),   // tail edit
      (4L, "en", 1, "a completely different set of salad words here"),
      (5L, "en", 1, "brown fox jumps over"),                          // substring
      (6L, "en", 1, ""),                                              // no shingles
      (7L, "fr", 1, "alpha beta gamma delta epsilon"),
      (8L, "fr", 1, "alpha beta gamma delta zeta"))
      .toDF("doc_id", "lang", "n", "text")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val want = Dedup.blockedNgramPairs(docs, "doc_id", "text",
        Seq("lang", "n"), k = 2)
        .filter(col("jaccard") >= t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val got = Dedup.blockedNgramPairs(docs, "doc_id", "text",
        Seq("lang", "n"), k = 2, minJaccard = Some(t))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === want, s"threshold $t")
    }
    // non-vacuous: at 0.5 the clone pair and the fr pair survive,
    // and at least one scored pair was dropped by the threshold
    val at05 = Dedup.blockedNgramPairs(docs, "doc_id", "text",
      Seq("lang", "n"), k = 2, minJaccard = Some(0.5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(at05.contains((1L, 2L)))
    assert(!at05.contains((1L, 4L)))

    // blocks above use <= 8 rows, so the occupancy dispatch takes the
    // brute-force branch; a 60-row block forces the PREFIX branch —
    // word salad (organically dissimilar) + planted clone pairs
    val vocabW = Array("red", "blue", "oak", "elm", "fox", "owl", "sun",
      "ice", "ash", "fig", "yew", "bee", "ant", "cod", "jay", "ram")
    def salad(seed: Int): String =
      (0 until 12).map(i => vocabW(((seed * 31 + i * 17) ^ (i * seed)) & 15))
        .mkString(" ")
    val big = (0 until 60).map(i => (i.toLong, "en", 9, salad(i + 1))) ++
      Seq((1000L, "en", 9, salad(1)),                    // clone of doc 0
        (1001L, "en", 9, salad(2) + " tailword extra"))  // near-dup of doc 1
    val bigDf = big.toDF("doc_id", "lang", "n", "text")
    val wantBig = Dedup.blockedNgramPairs(bigDf, "doc_id", "text",
      Seq("lang", "n"), k = 2)
      .filter(col("jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val gotBig = Dedup.blockedNgramPairs(bigDf, "doc_id", "text",
      Seq("lang", "n"), k = 2, minJaccard = Some(0.5))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotBig === wantBig)
    assert(gotBig.exists { case (a, b, _) => a === 0L && b === 1000L })
  }

  test("blockedNgramPairs(minJaccard) rejects a streaming input by name; " +
      "the default mode stays lazy on it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String, String)].toDS()
      .toDF("doc_id", "lang", "text")
    val err = intercept[IllegalArgumentException] {
      Dedup.blockedNgramPairs(stream, "doc_id", "text", Seq("lang"),
        minJaccard = Some(0.5))
    }
    assert(err.getMessage.contains("minJaccard") &&
      err.getMessage.contains("streaming"), err.getMessage)
    assert(Dedup.blockedNgramPairs(stream, "doc_id", "text", Seq("lang"))
      .isStreaming)
  }

  // --- Multimodal ----------------------------------------------------------

  test("IVF: deterministic centroids; nprobe=k == brute force; nprobe=1 finds planted NN") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(3)
    // three well-separated clusters on orthogonal axes + noise
    def cluster(center: Int, n: Int, base: Long) = (0 until n).map { i =>
      val v = Array.fill(12)(rnd.nextFloat() * 0.05f)
      v(center) = 1.0f + rnd.nextFloat() * 0.05f
      (base + i, v.toSeq)
    }
    val df = (cluster(0, 40, 0L) ++ cluster(5, 40, 100L) ++ cluster(9, 40, 200L))
      .toDF("vec_id", "embedding")
    val c1 = Similarity.ivfCentroids(df, "vec_id", "embedding", k = 3, iters = 3)
    val c2 = Similarity.ivfCentroids(df, "vec_id", "embedding", k = 3, iters = 3)
    assert(c1.map(_.toSeq).toSeq === c2.map(_.toSeq).toSeq)

    val query = { val v = Array.fill(12)(0.0f); v(5) = 1.0f; v }
    val full = Similarity.ivfTopK(df, "vec_id", "embedding", query, 10, c1, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = Similarity.bruteForceTopK(df, "vec_id", "embedding", query, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full === brute) // nprobe = k degenerates to exact

    val probed = Similarity.ivfTopK(df, "vec_id", "embedding", query, 10, c1, nprobe = 1)
      .collect().map(_.getLong(0)).toSeq
    // the probed cluster is the axis-5 one: all results come from it
    assert(probed.nonEmpty && probed.forall(id => id >= 100L && id < 200L))
    assert(probed === brute.map(_._1).filter(id => id >= 100L && id < 200L).take(probed.size))
  }

  test("multimodal plumbing: metadata without payload, deterministic stub features") {
    val df = Seq((1L, "hello world"), (2L, "payload two")).toDF("doc_id", "text")
    val assets = Multimodal.toAssets(df, "doc_id", "text", "image", "image/x-test")
    val meta = Multimodal.metadata(assets).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(3))).toSet
    assert(meta === Set((1L, "image", 11L), (2L, "image", 11L)))
    val f1 = Multimodal.extractFeatures(assets).collect().sortBy(_.asset_id)
    val f2 = Multimodal.extractFeatures(assets).collect().sortBy(_.asset_id)
    assert(f1.map(_.feature.toSeq).toSeq === f2.map(_.feature.toSeq).toSeq) // deterministic
    assert(f1.forall(_.feature.length === Multimodal.FeatureDim))
    assert(f1.forall(f => f.width >= 16 && f.height >= 16))
  }

  test("multimodal PNG: real encode -> decode round trip, dims match the formula") {
    import spark.implicits._
    val ids = (0L to 70L).toDS()
    val feats = Multimodal.extractFeatures(Multimodal.pngAssets(ids))
      .collect().sortBy(_.asset_id)
    assert(feats.length === 71)
    feats.foreach { f =>
      assert(f.width === 16 + (f.asset_id % 32).toInt, s"id=${f.asset_id}")
      assert(f.height === 16 + ((f.asset_id * 7) % 32).toInt, s"id=${f.asset_id}")
      assert(f.modality === "image" && f.duration_ms === 0L)
      // luminance profile is a real pixel statistic: all strips in [0,1]
      assert(f.feature.length === Multimodal.FeatureDim)
      assert(f.feature.forall(v => v >= 0f && v <= 1f))
    }
    // payloads are genuine PNGs (magic bytes) and deterministic across runs
    val a1 = Multimodal.pngAssets(ids).collect().sortBy(_.asset_id)
    val a2 = Multimodal.pngAssets(ids).collect().sortBy(_.asset_id)
    assert(a1.map(_.sha256).toSeq === a2.map(_.sha256).toSeq)
    val magic = Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)
    assert(a1.forall(_.payload.take(4).sameElements(magic)))
  }

  test("multimodal WAV: real RIFF encode -> chunk-walk decode, formula durations, RMS features") {
    import spark.implicits._
    val ids = (0L to 40L).toDS()
    val feats = Multimodal.extractFeatures(Multimodal.wavAssets(ids))
      .collect().sortBy(_.asset_id)
    assert(feats.length === 41)
    feats.foreach { f =>
      assert(f.modality === "audio")
      assert(f.width === 8000 && f.height === 16) // rate / bits slots
      assert(f.duration_ms === 500 + (f.asset_id % 32) * 50, s"id=${f.asset_id}")
      assert(f.feature.length === Multimodal.FeatureDim)
      // RMS of uniform-ish noise sits well inside (0, 1)
      assert(f.feature.forall(v => v > 0f && v < 1f))
    }
    // genuine RIFF/WAVE magic; decode survives an extra chunk before data
    val a = Multimodal.wavAssets(ids).collect().head
    assert(new String(a.payload.take(4), "US-ASCII") === "RIFF")
    assert(new String(a.payload.slice(8, 12), "US-ASCII") === "WAVE")
    val m = Multimodal.Codec.wavMeta(a.payload)
    assert(m.sampleRate === 8000 && m.channels === 1 && m.bitsPerSample === 16)
    // inject a LIST chunk between fmt and data; the chunk walk must skip it
    val bb = java.nio.ByteBuffer.allocate(a.payload.length + 12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(a.payload, 0, 36)
    bb.put("LIST".getBytes("US-ASCII")).putInt(4).put("INFO".getBytes("US-ASCII"))
    bb.put(a.payload, 36, a.payload.length - 36)
    val m2 = Multimodal.Codec.wavMeta(bb.array())
    assert(m2.frames === m.frames && m2.sampleRate === 8000)
  }

  test("multimodal video: GVF1 container parse, real frame decode, frame sampling") {
    import spark.implicits._
    val ids = (0L to 40L).toDS()
    val feats = Multimodal.extractFeatures(Multimodal.videoAssets(ids))
      .collect().sortBy(_.asset_id)
    feats.foreach { f =>
      assert(f.modality === "video")
      assert(f.width === 8 + (f.asset_id % 16).toInt, s"id=${f.asset_id}")
      assert(f.height === 8 + ((f.asset_id * 3) % 16).toInt, s"id=${f.asset_id}")
      assert(f.duration_ms === 400 + (f.asset_id % 8) * 100)
      assert(f.feature.forall(v => v >= 0f && v <= 1f))
    }
    // frame sampling: stride-2 indices below the per-asset frame count,
    // every sampled frame REALLY decoded to the shared dims
    val frames = Multimodal.frameSample(Multimodal.videoAssets(ids), stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    val byAsset = frames.groupBy(_._1)
    assert(byAsset.keySet === ids.collect().toSet)
    for (id <- 0L to 40L) {
      val nf = 4 + (id % 8).toInt
      val expect = (0 until nf by 2).toSeq
      val got = byAsset(id).map(_._2).toSeq.sorted
      assert(got === expect, s"id=$id")
      assert(byAsset(id).forall(t => t._3 === 8 + (id % 16).toInt &&
        t._4 === 8 + ((id * 3) % 16).toInt))
    }
    // O(1) frame seek: frame k from the index equals the encoder's frame k
    val asset = Multimodal.videoAssets(Seq(7L).toDS()).collect().head
    val idx = Multimodal.Codec.videoIndex(asset.payload)
    assert(idx.nFrames === 4 + 7 % 8 && idx.fps === 10)
    val f2 = idx.frame(asset.payload, 2)
    assert(f2.sameElements(Multimodal.Codec.encodePng(8 + 7 % 16, 8 + (7 * 3) % 16, 7L * 1000 + 2)))
  }

  // deterministic planted-near-dup corpus shared by the two end-to-end
  // dedup property tests: 600 base docs of 40-70 random tokens, plus one
  // near-dup clone (single token replaced) of every 10th doc at id+100000
  lazy val plantedCorpus: (Seq[(Long, String)], Seq[Long]) = {
    val rnd = new scala.util.Random(99L)
    val vocab = (1 to 400).map(i => s"w$i")
    val base = (0 until 600).map { i =>
      val n = 40 + rnd.nextInt(31)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val clones = base.filter(_._1 % 10 == 0).map { case (id, text) =>
      val toks = text.split(" ")
      toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.size))
      (id + 100000L, toks.mkString(" "))
    }
    (base ++ clones, clones.map(_._1 - 100000L))
  }

  test("minhash end-to-end property: planted near-dups found, est_jaccard tracks exact") {
    val (corpus, plantedIds) = plantedCorpus
    val df = corpus.toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(df, "doc_id", "text",
      k = 3, numHashes = 32, bands = 8)
    val withExact = References.ngramJaccard(
      cands.select("id_a", "id_b", "est_jaccard"), df, "doc_id", "text", k = 3)
      .select("id_a", "id_b", "est_jaccard", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val found = withExact.map(t => (t._1, t._2)).toSet
    // recall on the planted pairs: one replaced token in 40-70 leaves 3-gram
    // Jaccard ~0.85-0.95; at 8 bands x 4 rows the LSH miss probability per
    // pair is <1e-3, so at most 1 of the 60 planted pairs may be missed
    val missed = plantedIds.filterNot(id => found.contains((id, id + 100000L)))
    assert(missed.size <= 1, s"LSH missed planted pairs: $missed")
    // estimator property: per-pair |est - exact| within 4 sigma of the
    // 32-hash binomial (~0.24), and unbiased on average
    val errs = withExact.map(t => t._3 - t._4)
    assert(withExact.forall(t => math.abs(t._3 - t._4) <= 0.25),
      s"worst est error ${errs.map(math.abs).max}")
    assert(math.abs(errs.sum / errs.length) <= 0.05, "estimator biased")
    // every planted candidate's exact jaccard really is high (the plant
    // construction itself is sane)
    withExact.filter(t => plantedIds.contains(t._1) && t._2 == t._1 + 100000L)
      .foreach(t => assert(t._4 >= 0.7, s"planted pair $t not a near-dup"))
  }

  test("simhash end-to-end property: pipeline == brute-force hamming<=3 on planted corpus") {
    val (corpus, _) = plantedCorpus
    val df = corpus.toDF("doc_id", "text")
    val got = Dedup.simhashPairs(df, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force over the driver-side simhashes (660 docs -> 217k pairs)
    val hashes = df.select($"doc_id", Dedup.simhash($"text").as("sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d)).toSet
    assert(got === want, // pigeonhole blocking is lossless for d <= maxDist
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(want.nonEmpty, "vacuous: corpus must contain hamming<=3 pairs")
  }

  test("asofJoin matches a brute-force reference (ties, no-prior rows, null timestamps)") {
    val rnd = new scala.util.Random(11)
    // epoch-second timestamps; keys 0-4, key 4 has NO right rows
    val leftRows = (0 until 80).map { i =>
      val ts = if (i == 79) None else Some(1000L + rnd.nextInt(500))
      (i.toLong, rnd.nextInt(5).toLong, ts)
    }
    val rightRows = ((0 until 36).map { j =>
      (rnd.nextInt(4).toLong, 1000L + rnd.nextInt(500), j.toDouble)
    } ++ Seq( // deliberate (key, ts) tie — larger payload must win
      (0L, 1200L, 500.0), (0L, 1200L, 501.0),
      // a null right timestamp — must never match
      (1L, -1L, 999.0)))
    val left = leftRows.toDF("event_id", "k", "lts")
      .select($"event_id", $"k", to_timestamp($"lts").as("lts")).repartition(4)
    val right = rightRows.toDF("k", "rts0", "v")
      .select($"k", when($"rts0" === -1L, lit(null)).otherwise(to_timestamp($"rts0")).as("rts"),
        $"v").repartition(3)
    val got = Joins.asofJoin(left, right, "k", "lts", "rts")
      .select($"event_id",
        unix_timestamp($"rts").as("rts"), $"v")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some((r.getLong(1), r.getDouble(2))))).toMap
    val want = leftRows.map { case (id, k, lts) =>
      id -> lts.flatMap { t =>
        val cand = rightRows.filter(r => r._1 == k && r._2 != -1L && r._2 <= t)
        if (cand.isEmpty) None else Some(cand.map(r => (r._2, r._3)).max)
      }
    }.toMap
    assert(got === want)
    assert(want.values.exists(_.isEmpty) && want.values.exists(_.nonEmpty),
      "fixture must exercise both matched and unmatched left rows")
    // the tie actually resolved through the payload tiebreak
    val tied = want.values.flatten.filter(_._1 == 1200L)
    assert(!tied.exists(_._2 == 500.0) || tied.exists(_._2 == 501.0))
  }

  test("packSequences matches a sequential fold and its invariants hold") {
    val rnd = new scala.util.Random(23)
    val rows = (0 until 120).map { i =>
      (i.toLong, s"g${i % 3}", if (i % 17 == 0) 0L else rnd.nextInt(90).toLong)
    }
    val df = rows.toDF("id", "g", "n").repartition(5)
    val B = 64
    val got = Sampling.packSequences(df, "id", "n", Seq("g"), B)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap // id -> (n_tokens, first, last, offset)
    val want = rows.groupBy(_._2).flatMap { case (_, grp) =>
      var cum = 0L
      grp.sortBy(_._1).map { case (id, _, n) =>
        val first = cum / B
        val last = math.max(first, (cum + n - 1) / B)
        val off = cum % B
        cum += n
        id -> ((n, first, last, off))
      }
    }
    assert(got === want)
    // invariants: offsets in [0,B); zero-token docs keep first == last;
    // some doc straddles a boundary at this budget
    assert(got.values.forall { case (_, f, l, o) => o >= 0 && o < B && l >= f })
    assert(got.values.exists { case (n, f, l, _) => n > 0 && l > f },
      "fixture must contain a straddling document")
    assert(rows.exists(_._3 == 0L))
  }

  test("Sessionize.sessions: adjacent-merge gap boundary, matches a fold reference") {
    // user 1: events at 0h, 1h, 3h59m59s, then one EXACTLY gap after the
    // last (adjacent windows merge -> still session 1), then one at
    // gap + 1s after that (strictly past the gap -> session 2)
    val t0 = 1700000000L
    val rows = Seq(
      (1L, t0, 1.0), (1L, t0 + 3600, 2.0), (1L, t0 + 4 * 3600 - 1, 3.0),
      (1L, t0 + 8 * 3600 - 1, 4.0), // exactly gap after previous: merges
      (1L, t0 + 12 * 3600, 6.0), // gap + 1s after previous: new session
      (2L, t0, 5.0))
    val df = rows.toDF("user_id", "s", "value")
      .select($"user_id", to_timestamp($"s").as("ts"), $"value").repartition(3)
    val got = Sessionize.sessions(df, Seq("user_id"), "ts", "4 hours",
      Seq(round(sum("value"), 6).as("sum_value")))
      .select($"user_id", unix_timestamp($"session_start").as("ss"),
        unix_timestamp($"session_end").as("se"), $"n_events", $"sum_value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val gap = 4 * 3600L
    val want = rows.groupBy(_._1).flatMap { case (u, evs) =>
      val sorted = evs.map(e => (e._2, e._3)).sortBy(_._1)
      val sessions = sorted.tail.foldLeft(List(List(sorted.head))) { (acc, e) =>
        // Spark merges ADJACENT windows: diff == gap still extends
        if (e._1 - acc.head.head._1 <= gap) (e :: acc.head) :: acc.tail
        else List(e) :: acc
      }
      sessions.map { s =>
        (u, s.last._1, s.head._1 + gap, s.size.toLong,
          math.rint(s.map(_._2).sum * 1e6) / 1e6)
      }
    }.toSet
    assert(got === want)
    assert(got.count(_._1 == 1L) === 2,
      "gap+1s must split user 1 while the exact-gap event merges")
    // the first session really absorbed the exact-gap event (4 events)
    assert(got.exists(s => s._1 == 1L && s._4 === 4L))
  }

  // --- range join / salted join -------------------------------------------

  test("rangeJoin matches the brute-force reference (negative domain, nulls, " +
      "empty intervals, keyless) and the span guard trips distributedly") {
    val rnd = new scala.util.Random(31)
    // points across a NEGATIVE-to-positive domain so floor-division
    // bucketing (not truncation) is what the reference demands
    val points = (0 until 200).map { i =>
      val p = if (i == 199) None else Some(rnd.nextInt(2000).toLong - 1000L)
      (i.toLong, rnd.nextInt(4).toLong, p)
    }
    val intervals = (0 until 60).map { j =>
      val s = rnd.nextInt(2000).toLong - 1000L
      // ~1/6 of intervals empty (start > end) — must match nothing
      val e = s + rnd.nextInt(120).toLong - 20L
      (rnd.nextInt(4).toLong, s, e, j.toLong)
    } :+ ((0L, -990L, -990L, 999L)) // degenerate single-point interval
    val pDf = points.toDF("pid", "k", "p")
      .select($"pid", $"k", $"p".cast("long").as("p")).repartition(5)
    val iDf = intervals.toDF("k", "s", "e", "iid").repartition(3)

    def reference(keyed: Boolean): Set[(Long, Long)] = (for {
      (pid, pk, pOpt) <- points; p <- pOpt.toSeq
      (ik, s, e, iid) <- intervals
      if (!keyed || pk == ik) && p >= s && p <= e
    } yield (pid, iid)).toSet

    for ((keys, keyed) <- Seq(Seq("k") -> true, Seq.empty[String] -> false)) {
      val got = Joins.rangeJoin(
        if (keyed) pDf else pDf.drop("k"),
        if (keyed) iDf else iDf.drop("k"),
        keys, "p", "s", "e", bucketWidth = 64)
        .select("pid", "iid").as[(Long, Long)].collect().toSet
      assert(got === reference(keyed), s"keyed=$keyed")
      assert(got.nonEmpty)
    }
    // the degenerate interval matched its single admissible point domain
    // only if some point landed on -990 — irrelevant either way; what must
    // hold is that EMPTY intervals contributed nothing (reference already
    // encodes it). Span guard: one open-ended interval blows the cap.
    val wide = Seq((0L, -1000000L, 1000000L, 1L)).toDF("k", "s", "e", "iid")
    val ex = intercept[Throwable] { // SparkRuntimeException wraps raise_error
      Joins.rangeJoin(pDf, wide, Seq("k"), "p", "s", "e",
        bucketWidth = 64, maxBucketsPerInterval = 1000).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("rangeJoin")), msgs(ex).mkString(" | "))
    // an input already carrying the internal bucket column fails fast
    // instead of being silently clobbered and dropped
    val exPb = intercept[IllegalArgumentException] {
      Joins.rangeJoin(pDf.withColumn("__pb", lit(1)), iDf, Seq("k"),
        "p", "s", "e", bucketWidth = 64)
    }
    assert(exPb.getMessage.contains("__pb"))
    // left variant: every point survives; matches agree with inner,
    // no-interval points null-extend (including the null-point row)
    val leftGot = Joins.rangeJoin(pDf, iDf, Seq("k"), "p", "s", "e",
      bucketWidth = 64, joinType = "left")
      .select($"pid", $"iid")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    val innerRef = reference(keyed = true)
    val leftWant = points.flatMap { case (pid, _, _) =>
      val m = innerRef.collect { case (p, i) if p == pid => Some(i) }
      if (m.isEmpty) Seq((pid, None)) else m.map(pid -> _)
    }
    assert(leftGot.sorted.toSeq === leftWant.sorted.toSeq)
    assert(leftGot.exists(_._2.isEmpty) && leftGot.exists(_._2.nonEmpty))

    // nanosecond-epoch domain (> 2^53): bucket ids must come from INTEGRAL
    // division — double division rounds here and splits a point from its
    // containing interval into adjacent buckets
    val base = 1700000000000000000L // ~2024 in ns
    val W = 3600L * 1000000000L
    val bigPts = (0 until 50).map(i => (i.toLong, base + i * W / 7))
      .toDF("pid", "p")
    val bigIvs = (0 until 20)
      .map(j => (base + j * W, base + j * W + W - 1, j.toLong))
      .toDF("s", "e", "iid")
    val bigGot = Joins.rangeJoin(bigPts, bigIvs, Seq.empty, "p", "s", "e", W)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val bigWant = (for {
      i <- 0 until 50; j <- 0 until 20
      p = base + i * W / 7
      if p >= base + j * W && p <= base + j * W + W - 1
    } yield (i.toLong, j.toLong)).toSet
    assert(bigGot === bigWant)
    assert(bigWant.size === 50, "every ns-epoch point lies in exactly one hour")
  }

  test("saltedJoin: result identical to the plain join at every salt count") {
    val rnd = new scala.util.Random(37)
    // hot-key shape: 70% of rows share one key
    val big = (0 until 500).map { i =>
      (i.toLong, if (rnd.nextInt(10) < 7) "hot" else s"k${rnd.nextInt(5)}",
        rnd.nextInt(100))
    }.toDF("id", "key", "x").repartition(7)
    val small = Seq(("hot", 10.0), ("k0", 1.0), ("k1", 2.0), ("k3", 3.0))
      .toDF("key", "w")
    val plain = big.join(small, Seq("key"), "inner")
      .select("id", "key", "x", "w").as[(Long, String, Int, Double)]
      .collect().toSet
    for (salts <- Seq(1, 4, 16)) {
      val got = Joins.saltedJoin(big, small, Seq("key"), salts)
        .select("id", "key", "x", "w").as[(Long, String, Int, Double)]
        .collect().toSet
      assert(got === plain, s"salts=$salts")
    }
    assert(plain.nonEmpty && !plain.exists(_._2 == "k2"),
      "fixture must exercise both matched and dropped keys")
    val exSalt = intercept[IllegalArgumentException] {
      Joins.saltedJoin(big.withColumn("__salt", lit(1)), small, Seq("key"), 4)
    }
    assert(exSalt.getMessage.contains("__salt"))
  }

  // --- stratified sampling -------------------------------------------------

  test("stratifiedSample: hash-threshold membership, append stability, " +
      "0/1 fractions exact") {
    val rows = (0 until 400).map(i => (i.toLong, s"s${i % 4}"))
    val df = rows.toDF("id", "stratum").repartition(6)
    val fr = Map("s0" -> 1.0, "s1" -> 0.5, "s2" -> 0.25, "s3" -> 0.0)
    val got = Sampling.stratifiedSample(df, "stratum", "id", fr)
      .as[(Long, String)].collect().toSet
    // reference: the same xxhash64 bucket, thresholds floor'd identically
    val buckets = df.select($"id", pmod(xxhash64($"id"), lit(10000)))
      .as[(Long, Long)].collect().toMap
    val want = rows.filter { case (id, s) =>
      buckets(id) < math.floor(fr(s) * 10000).toInt
    }.toSet
    assert(got === want)
    assert(rows.filter(_._2 == "s0").toSet.subsetOf(got), "frac 1.0 keeps all")
    assert(!got.exists(_._2 == "s3"), "frac 0.0 keeps none")
    val kept1 = got.count(_._2 == "s1").toDouble / 100
    assert(kept1 > 0.3 && kept1 < 0.7, s"s1 kept fraction $kept1 far off 0.5")
    // append stability: the doubled corpus keeps exactly the same originals
    val more = (400 until 800).map(i => (i.toLong, s"s${i % 4}"))
    val appended = Sampling.stratifiedSample(
      (rows ++ more).toDF("id", "stratum"), "stratum", "id", fr)
      .as[(Long, String)].collect().toSet
    assert(appended.filter(_._1 < 400) === got)
    // a stratum ABSENT from the map defaults to dropped (sampleBy contract)
    val withUnknown = Sampling.stratifiedSample(
      (rows :+ ((9999L, "other"))).toDF("id", "stratum"), "stratum", "id", fr)
      .as[(Long, String)].collect().toSet
    assert(withUnknown === got)
  }

  test("weightedSample: A-ES top-k matches the driver reference, is " +
      "partition-independent, excludes null/non-positive weights") {
    val rnd = new scala.util.Random(83)
    val rows = (0 until 300).map { i =>
      val w = i % 10 match {
        case 0 => null.asInstanceOf[java.lang.Double] // excluded
        case 1 => java.lang.Double.valueOf(0.0) // excluded
        case 2 => java.lang.Double.valueOf(-2.0) // excluded
        case _ => java.lang.Double.valueOf(0.1 + rnd.nextDouble() * 9.9)
      }
      (i.toLong, w)
    }
    val df = rows.toDF("id", "w")
    val g = 1 << 20
    // reference keys from the engine's own hash (xxhash64 via a plain
    // projection), the A-ES formula in scala doubles
    val buckets = df.select($"id", pmod(xxhash64($"id"), lit(g)))
      .as[(Long, Long)].collect().toMap
    val want = rows.collect { case (id, w) if w != null && w > 0 =>
      val u = (buckets(id).toDouble + 0.5) / g.toDouble
      (id, math.pow(u, 1.0 / w))
    }.sortBy { case (id, key) => (-key, id) }.take(25)
    for (parts <- Seq(1, 7)) {
      val got = Sampling.weightedSample(df.repartition(parts), "id", "w", 25)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      got.zip(want.zipWithIndex).foreach { case ((gr, gi, gk), ((wi, wk), r)) =>
        assert(gr === r + 1 && gi === wi, s"parts=$parts rank ${r + 1}")
        assert(math.abs(gk - wk) < 1e-6)
      }
    }
    val excluded = Set.empty[Long] ++ rows.collect {
      case (id, w) if w == null || w <= 0 => id }
    val sampled = Sampling.weightedSample(df, "id", "w", 300)
      .select("id").as[Long].collect().toSet
    assert(sampled.intersect(excluded).isEmpty)
    assert(sampled.size === rows.count(r => r._2 != null && r._2 > 0))
  }

  test("stripBoilerplate: both gates, all-copies removal, within-doc dup " +
      "counted once, per-domain isolation, all-boiler doc yields empty text") {
    import graft.ops.Curation
    // domain A: 4 docs; 'FOOT' in 3/4 (df=3 >= minDocs=2, frac 0.75 > 0.5)
    // 'rare' in 2/4 (df=2 >= 2 but frac 0.5, NOT > 0.5 -> kept)
    // domain B: 2 docs; 'FOOT' in 1/2 (df=1 < minDocs -> kept there)
    val rows = Seq(
      (1L, "A", "alpha\nFOOT\nbeta"),
      (2L, "A", "FOOT\nFOOT"), // within-doc dup: df counts it once; all-boiler doc
      (3L, "A", "gamma\nrare\nFOOT"),
      (4L, "A", "delta\nrare"),
      (5L, "B", "epsilon\nFOOT"),
      (6L, "B", "zeta"))
    val got = Curation.stripBoilerplate(rows.toDF("id", "dom", "text"),
        "id", "text", "dom", maxDocFrac = 0.5, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .sortBy(_._1)
    val want = Seq(
      (1L, 3, 2, "alpha\nbeta"),
      (2L, 2, 0, ""), // every copy stripped, not just the dup
      (3L, 3, 2, "gamma\nrare"),
      (4L, 2, 2, "delta\nrare"),
      (5L, 2, 2, "epsilon\nFOOT"), // B's FOOT is under minDocs
      (6L, 1, 1, "zeta"))
    assert(got.toSeq === want)
  }

  test("collocations: PMI matches an in-memory reference; minCount floors " +
      "one-off pairs; planted collocation outranks independent pairs") {
    val rnd = new scala.util.Random(47)
    val vocab = Array("scan", "sort", "hash", "join", "agg", "key")
    val organic = (0 until 120).map { _ =>
      Seq.fill(4 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    // plant 'neural network' in a third of docs; 'rare pair' exactly once
    val docs = organic.zipWithIndex.map { case (t, i) =>
      if (i % 3 == 0) s"$t neural network" else t
    } :+ "rare pair"
    val got = TextAnalysis.collocations(docs.toDF("text"), "text",
        minCount = 5, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    // reference with the same tokenizer and association
    def toks(t: String) = t.toLowerCase.trim.split("[\\s\\x0B]+", -1).toSeq
    val all = docs.map(toks)
    val uni = all.flatten.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val bi = all.filter(_.size >= 2).flatMap(t => t.zip(t.tail))
      .groupBy(identity).map { case (p, g) => p -> g.size.toLong }
    val t1 = uni.values.sum
    val t2 = bi.values.sum
    val want = bi.filter(_._2 >= 5).map { case ((w1, w2), c12) =>
      val pmi = math.log(c12.toDouble * t1 * t1 /
        (t2.toDouble * uni(w1) * uni(w2)))
      (w1, w2, c12,
        BigDecimal(pmi).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.sortBy { case (w1, w2, _, p) => (-p, w1, w2) }.take(10)
    assert(got.toSeq === want)
    // the planted collocation is the top pair; the one-off never appears
    assert(got.head._1 === "neural" && got.head._2 === "network")
    assert(!got.exists(g => g._1 == "rare"))
  }

  test("lmScore: add-one unigram NLL matches an in-memory reference; " +
      "OOV tokens take the smoothing floor; frozen model scores new batches") {
    val rnd = new scala.util.Random(41)
    val vocab = Array("data", "hash", "join", "scan", "sort")
    val train = (0 until 80).map { i =>
      (i.toLong, Seq.fill(3 + rnd.nextInt(20))(
        vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val model = TextAnalysis.lmModel(train.toDF("id", "text").repartition(5), "text")
    // score a DIFFERENT batch: in-vocab text plus planted OOV tokens
    val batch = Seq((1000L, "data hash qqq"), (1001L, "sort sort"),
      (1002L, "www xxx yyy"), (1003L, ""))
    val got = TextAnalysis.lmScore(batch.toDF("id", "text"), "id", "text", model)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      .sortBy(_._1)
    // independent reference with the same tokenizer contract
    def toksOf(t: String) = t.toLowerCase.trim.split("[\\s\\x0B]+", -1).toSeq
    val counts = train.flatMap { case (_, t) => toksOf(t) }
      .groupBy(identity).map { case (t, g) => t -> g.size }
    val denom = (counts.values.sum + counts.size).toDouble
    def lp(t: String) = math.log((counts.getOrElse(t, 0) + 1).toDouble / denom)
    val want = batch.map { case (id, t) =>
      val ts = toksOf(t)
      (id, ts.size, -ts.map(lp).sum / ts.size)
    }
    got.zip(want).foreach { case ((gi, gn, gs), (wi, wn, ws)) =>
      assert(gi === wi && gn === wn, s"doc $wi")
      assert(math.abs(gs - ws) < 2e-6, s"doc $wi nll: $gs vs $ws")
    }
    // the OOV doc must score strictly worse than the all-in-vocab doc
    val byId = got.map(r => r._1 -> r._3).toMap
    assert(byId(1002L) > byId(1001L), "pure-OOV doc must have higher NLL")
  }

  test("lmBuckets: R-7 tertile thresholds and <=-cut match a driver " +
      "reference; thirds are near-equal; the cut is a projection, not a window") {
    val rnd = new scala.util.Random(83)
    val scored = (1L to 200L).map(i =>
      (i, BigDecimal(rnd.nextDouble() * 10)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    val got = TextAnalysis.lmBuckets(scored.toDF("id", "avg_nll"), "id")
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    // R-7: h = (n-1)p, threshold = x[floor(h)] + (h - floor(h)) * (x[h+1] - x[h])
    val xs = scored.map(_._2).sorted.toIndexedSeq
    def r7(p: Double): Double = {
      val h = (xs.size - 1) * p
      val lo = math.floor(h).toInt
      val v = if (lo + 1 < xs.size) xs(lo) + (h - lo) * (xs(lo + 1) - xs(lo))
        else xs(lo)
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val (t1, t2) = (r7(1.0 / 3), r7(2.0 / 3))
    scored.foreach { case (id, v) =>
      val want = if (v <= t1) "head" else if (v <= t2) "middle" else "tail"
      assert(got(id) === want, s"doc $id at $v (t1=$t1 t2=$t2)")
    }
    val sizes = got.values.groupBy(identity).view.mapValues(_.size)
    assert(sizes.values.forall(s => s >= 60 && s <= 73), sizes.toMap.toString)
    // scale-shape pin: no Window (ntile) anywhere in the bucketing plan
    val plan = TextAnalysis.lmBuckets(scored.toDF("id", "avg_nll"), "id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("bm25TopK matches an in-memory Okapi reference (ties by id, " +
      "term-absent docs, blank docs)") {
    val rnd = new scala.util.Random(73)
    val vocab = Array("data", "hash", "join", "scan", "sort", "spark", "table")
    val rows = (0 until 150).map { i =>
      val t = if (i == 149) "" else
        Seq.fill(5 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      (i.toLong, t)
    }
    val query = Seq("hash", "spark")
    val (k1, b) = (1.2, 0.75)
    val got = TextAnalysis.bm25TopK(rows.toDF("id", "text").repartition(5),
      "id", "text", query, k = 15)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // reference BM25 with the same tokenizer contract
    def toksOf(t: String) = t.toLowerCase.trim.split("[\\s\\x0B]+", -1).toSeq
    val toks = rows.map { case (id, t) => id -> toksOf(t) }.toMap
    val n = rows.size
    val avgdl = toks.values.map(_.size).sum.toDouble / n
    def idf(t: String) = {
      val dfT = toks.values.count(_.contains(t))
      math.log((n - dfT + 0.5) / (dfT + 0.5) + 1.0)
    }
    val scores = rows.map { case (id, _) =>
      val dl = toks(id).size.toDouble
      id -> query.map { t =>
        val tf = toks(id).count(_ == t).toDouble
        idf(t) * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
      }.sum
    }
    val want = scores.sortBy { case (id, s) => (-s, id) }.take(15)
      .zipWithIndex.map { case ((id, s), r) =>
        (r + 1, id, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    got.zip(want).foreach { case ((gr, gi, gs), (wr, wi, ws)) =>
      assert(gr === wr && gi === wi, s"rank $wr: got ($gi, $gs) want ($wi, $ws)")
      assert(math.abs(gs - ws) < 2e-6, s"rank $wr score: $gs vs $ws")
    }
    assert(scores.count(_._2 == 0.0) >= 1, "some doc must miss every term")
  }

  // --- incremental dedup ---------------------------------------------------

  test("incrementalExact: within-delta first-wins + catalog anti-join " +
      "match an in-memory reference; null texts drop; fingerprint rides out") {
    val rnd = new scala.util.Random(67)
    val catalogTexts = (0 until 60).map(i => s"seen doc $i ${rnd.nextInt(5)}")
    val deltaRows = (0 until 120).map { i =>
      val t = rnd.nextInt(10) match {
        case 0 => null // null text: dropped
        case 1 | 2 => catalogTexts(rnd.nextInt(catalogTexts.size)) // clone of seen
        case 3 => s"Fresh Doc ${rnd.nextInt(20)}" // within-delta dup space
        case _ => s"fresh doc $i"
      }
      (i.toLong, t)
    }
    val seen = catalogTexts.toDF("text")
      .select(TextAnalysis.fingerprint($"text").as("fp"))
    val got = Dedup.incrementalExact(
      deltaRows.toDF("id", "text").repartition(5), "id", "text", seen, "fp")
      .select("id", "fingerprint").as[(Long, String)].collect().toMap
    // reference: normalize like the fingerprint does, first-wins by id,
    // drop anything whose normalized form is in the catalog
    def norm(t: String) = t.toLowerCase.trim.replaceAll("[\\s]+", " ")
    val seenSet = catalogTexts.map(norm).toSet
    val want = deltaRows.filter(_._2 != null)
      .groupBy(r => norm(r._2)).map { case (_, rs) => rs.minBy(_._1) }
      .filter(r => !seenSet.contains(norm(r._2))).map(_._1).toSet
    assert(got.keySet === want)
    assert(got.nonEmpty && got.size < deltaRows.count(_._2 != null),
      "fixture must drop some and keep some")
    // the emitted fingerprint is the catalog key (closes the append loop):
    // catalog + appended survivors absorb the whole delta on a re-run
    val appended = seen.unionByName(got.values.toSeq.toDF("fp"))
    val again = Dedup.incrementalExact(
      deltaRows.toDF("id", "text").repartition(3), "id", "text", appended, "fp")
    assert(again.count() === 0, "re-running against the appended catalog is empty")
  }

  // --- z-order layout ------------------------------------------------------

  // --- int8 quantization ---------------------------------------------------

  test("quantizeInt8: codes match a scalar reference exactly; reconstruction " +
      "within half a step; degenerate dims code to -128") {
    val rnd = new scala.util.Random(41)
    val dim = 16
    val vecs = (0 until 150).map { i =>
      (i.toLong, Array.tabulate(dim) { d =>
        if (d == 7) 3.25f // constant dimension
        else (rnd.nextFloat() * 4 - 2) * (d + 1)
      })
    }
    val df = vecs.map { case (id, v) => (id, v.toSeq) }.toDF("id", "vec")
      .repartition(5)
    val (mins, maxs) = Similarity.quantizationParams(df, "vec")
    assert(mins.length === dim && maxs.length === dim)
    assert(mins(7) === 3.25 && maxs(7) === 3.25)
    for (d <- 0 until dim) {
      assert(mins(d) === vecs.map(_._2(d).toDouble).min)
      assert(maxs(d) === vecs.map(_._2(d).toDouble).max)
    }
    val got = df.select($"id",
      Similarity.quantizeInt8($"vec", mins, maxs).as("q"))
      .as[(Long, Seq[Byte])].collect().toMap
    def refCode(x: Double, lo: Double, hi: Double): Int =
      if (hi == lo) -128
      else math.max(0L, math.min(255L,
        math.floor((x - lo) * (256.0 / (hi - lo))).toLong)).toInt - 128
    for ((id, v) <- vecs; d <- 0 until dim) {
      assert(got(id)(d).toInt === refCode(v(d).toDouble, mins(d), maxs(d)),
        s"id=$id dim=$d")
    }
    // out-of-calibration inputs SATURATE at the range edges — they must
    // never wrap through the byte cast to the opposite end of the range
    val out = Seq((0L, (0 until dim).map(d => (mins(d) - 1000).toFloat)),
      (1L, (0 until dim).map(d => (maxs(d) + 1000).toFloat)))
      .toDF("id", "vec")
    val codes = out.select($"id",
      Similarity.quantizeInt8($"vec", mins, maxs).as("q"))
      .as[(Long, Seq[Byte])].collect().toMap
    assert(codes(0L).forall(_ == -128), s"below-range must clamp low: ${codes(0L)}")
    assert(codes(1L).zipWithIndex.forall { case (c, d) =>
      c == (if (maxs(d) == mins(d)) -128 else 127) // degenerate dim stays -128
    }, s"above-range must clamp high: ${codes(1L)}")
    // reconstruction: within half a quantization step per dimension
    val deq = df.select($"id", Similarity.dequantizeInt8(
      Similarity.quantizeInt8($"vec", mins, maxs), mins, maxs).as("xh"))
      .as[(Long, Seq[Double])].collect().toMap
    for ((id, v) <- vecs; d <- 0 until dim) {
      val step = (maxs(d) - mins(d)) / 256.0
      assert(math.abs(deq(id)(d) - v(d)) <= step / 2 + 1e-9,
        s"id=$id dim=$d err=${math.abs(deq(id)(d) - v(d))} step=$step")
    }
  }

  test("quantizationParams clip: one outlier no longer stretches the code " +
      "range; inliers reconstruct tighter, the outlier saturates") {
    val rnd = new scala.util.Random(61)
    // dim 0 is well-behaved in [0, 1) except ONE exploded outlier at 1000
    val rows = (0 until 500).map { i =>
      (i.toLong, Seq(if (i == 0) 1000f else rnd.nextFloat(), rnd.nextFloat()))
    }
    val df = rows.toDF("id", "vec").repartition(4)
    val (m0, x0) = Similarity.quantizationParams(df, "vec")
    val (mc, xc) = Similarity.quantizationParams(df, "vec", clip = 0.01)
    assert(x0(0) === 1000.0, "min/max calibration absorbs the outlier")
    assert(xc(0) < 2.0, s"clipped calibration must ignore it: ${xc(0)}")
    // inlier reconstruction error: clipped step is ~500x finer on dim 0
    val deqC = df.select($"id", Similarity.dequantizeInt8(
      Similarity.quantizeInt8($"vec", mc, xc), mc, xc).as("x"))
      .as[(Long, Seq[Double])].collect().toMap
    val stepC = (xc(0) - mc(0)) / 256.0
    for ((id, v) <- rows if id != 0L) {
      val err = math.abs(deqC(id)(0) - v(0))
      // inside the clipped range: half a (fine) step; the 1% tails saturate
      // to the range edge, still within the clipped bounds' reach
      if (v(0) >= mc(0) && v(0) <= xc(0))
        assert(err <= stepC / 2 + 1e-9, s"id=$id err=$err step=$stepC")
    }
    // the outlier saturates to the TOP code, not a wrapped value
    val qOut = df.filter($"id" === 0L)
      .select(Similarity.quantizeInt8($"vec", mc, xc))
      .as[Seq[Byte]].head()
    assert(qOut(0) === 127.toByte)
  }

  test("tfidfKeywordsJoin: the open-vocabulary join path equals the " +
      "broadcast-map path row-for-row; the driver-map guard fails fast") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val mapPath = TextAnalysis.tfidfKeywords(d, "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank").collect().toSeq
    val joinPath = TextAnalysis.tfidfKeywordsJoin(d, "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank").collect().toSeq
    assert(joinPath === mapPath)
    // guard: a vocabulary larger than maxVocab dies with the named error,
    // and the limit-bounded collect means it dies FAST, not at OOM
    val err = intercept[IllegalArgumentException] {
      TextAnalysis.idfMap(d, "doc_id", "text", maxVocab = 10)
    }
    assert(err.getMessage.contains("maxVocab"))
    assert(err.getMessage.contains("tfidfKeywordsJoin"))
  }

  test("lmScoreJoin: DataFrame-resident model scores equal the map path " +
      "at round-6; OOV takes the smoothing floor; lmModel guard fires") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val batch = d.filter(col("text").isNotNull).select(col("doc_id"),
      when(col("doc_id") % 6 === 0, concat(col("text"), lit(" zq9xoov")))
        .otherwise(col("text")).as("text"))
    val mapPath = TextAnalysis.lmScore(batch, "doc_id", "text",
      TextAnalysis.lmModel(d, "text"))
      .orderBy("doc_id").collect().toSeq
    val joinPath = TextAnalysis.lmScoreJoin(batch, "doc_id", "text",
      TextAnalysis.lmModelDf(d, "text"))
      .orderBy("doc_id").collect().toSeq
    assert(joinPath === mapPath)
    val err = intercept[IllegalArgumentException] {
      TextAnalysis.lmModel(d, "text", maxVocab = 10)
    }
    assert(err.getMessage.contains("lmModelDf"))
  }

  test("asofJoinSkewSafe: row-identical to asofJoin on a planted 50%-hot " +
      "key; the hot key's rows span many time buckets") {
    val rnd = new scala.util.Random(7)
    // one key owns half the left side AND half the right side — the shape
    // that funnels the plain window through a single partition
    val left = (1L to 2000L).map { i =>
      val key = if (i % 2 == 0) 1L else 1L + (i % 97)
      (i, key, (rnd.nextInt(100000)).toLong)
    }.toDF("event_id", "k", "ts")
    val right = (1L to 1000L).map { i =>
      val key = if (i % 2 == 0) 1L else 1L + (i % 97)
      (key, (rnd.nextInt(100000)).toLong, i * 10)
    }.toDF("k", "qts", "payload")
    val plain = Joins.asofJoin(left, right, "k", "ts", "qts")
      .orderBy("event_id").collect().toSeq
    val skewSafe = Joins.asofJoinSkewSafe(left, right, "k", "ts", "qts",
      bucketWidth = 1000L)
      .orderBy("event_id").collect().toSeq
    assert(skewSafe === plain)
    // the funnel is actually gone: the hot key's rows land in many
    // (key, bucket) partition groups, not one
    val hotBuckets = left.filter(col("k") === 1L)
      .select((col("ts") - pmod(col("ts"), lit(1000L))).divide(1000L))
      .distinct().count()
    assert(hotBuckets > 50, s"hot key must span many buckets, got $hotBuckets")
    // edge parity: NULL left ts keeps NULL right columns in both forms
    val leftN = Seq((9001L, 1L, null.asInstanceOf[java.lang.Long]),
      (9002L, 999L, java.lang.Long.valueOf(5L))).toDF("event_id", "k", "ts")
    val pN = Joins.asofJoin(leftN, right, "k", "ts", "qts")
      .orderBy("event_id").collect().toSeq
    val sN = Joins.asofJoinSkewSafe(leftN, right, "k", "ts", "qts", 1000L)
      .orderBy("event_id").collect().toSeq
    assert(sN === pN)
    assert(sN.forall(r => r.isNullAt(r.fieldIndex("qts"))))
    // NULL KEYS group together in a window partition, so the plain form
    // matches them; the skew-safe carry join must be null-safe (<=>) on
    // the key too — an === would silently drop the NULL-key carry when
    // left and right rows land in different time buckets
    val leftNk = Seq((1L, null.asInstanceOf[java.lang.Long], 5000L),
      (2L, java.lang.Long.valueOf(1L), 5000L)).toDF("event_id", "k", "ts")
    val rightNk = Seq((null.asInstanceOf[java.lang.Long], 100L, 7L),
      (java.lang.Long.valueOf(1L), 100L, 8L)).toDF("k", "qts", "payload")
    val pNk = Joins.asofJoin(leftNk, rightNk, "k", "ts", "qts")
      .orderBy("event_id").collect().toSeq
    val sNk = Joins.asofJoinSkewSafe(leftNk, rightNk, "k", "ts", "qts", 1000L)
      .orderBy("event_id").collect().toSeq
    assert(sNk === pNk)
    assert(!sNk.head.isNullAt(sNk.head.fieldIndex("qts")),
      "NULL-key left row must carry the NULL-key right row across buckets")
  }

  test("asofJoinSkewSafe: timestamp columns bucket in microseconds and " +
      "match the plain form on the q_asof corpus shape") {
    val dir = "/root/testdata/sf0.001"
    val events = spark.read.parquet(s"$dir/events.parquet")
      .select("event_id", "user_id", "ts")
    val quotes = spark.read.parquet(s"$dir/orders.parquet").select(
      (col("o_custkey") % 150).as("user_id"),
      expr("timestamp'2024-01-01 00:00:00' + " +
        "make_interval(0, 0, 0, 0, 0, cast(o_orderkey % 43200 as int), 0)")
        .as("qts"),
      col("o_orderkey").as("order_key"),
      round(col("o_totalprice"), 2).as("px"))
    val plain = Joins.asofJoin(events, quotes, "user_id", "ts", "qts")
      .orderBy("event_id").collect().toSeq
    val skewSafe = Joins.asofJoinSkewSafe(events, quotes, "user_id", "ts",
      "qts", bucketWidth = 86400L * 1000000L) // 1-day buckets in micros
      .orderBy("event_id").collect().toSeq
    assert(skewSafe === plain)
  }

  test("connectedComponents: reliableCheckpoint path converges to the same " +
      "labels and requires a checkpoint dir") {
    import graft.ops.Clustering
    val edges = Seq((10L, 7L), (7L, 22L), (22L, 31L), (100L, 90L))
      .toDF("id_a", "id_b")
    // no checkpoint dir configured -> named fast failure, not a mid-job one
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty)
    val err = intercept[IllegalArgumentException] {
      Clustering.connectedComponents(edges, "id_a", "id_b",
        reliableCheckpoint = true)
    }
    assert(err.getMessage.contains("setCheckpointDir"))
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt")
    try {
      sc.setCheckpointDir(dir.toString)
      val got = Clustering.connectedComponents(edges, "id_a", "id_b",
        reliableCheckpoint = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Map(7L -> 7L, 10L -> 7L, 22L -> 7L, 31L -> 7L,
        90L -> 90L, 100L -> 90L))
      // the reliable cut actually wrote durable round snapshots
      assert(java.nio.file.Files.list(dir).count() > 0)
    } finally {
      // SparkContext has no unsetCheckpointDir; the shared session keeps
      // the temp dir for the JVM's remaining suites (harmless)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("termGate corpus property: n_terms/n_hits/keep match a sequential " +
      "greedy indexOf reference on the sf0.001 documents corpus") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("text").isNotNull)
    // dictionary mixes real corpus tokens (frequent hits), a phrase, an
    // overlapping pair, and a never-present term
    val dict = Seq("data", "the", "hash join", "ha", "zzqq-never")
    val got = Curation.termGate(d, "doc_id", "text", dict, maxTerms = 1)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2),
        r.getBoolean(3)))).toMap
    def refCount(t: String, w: String): Long = {
      var i = 0; var c = 0L
      var j = t.indexOf(w, i)
      while (j >= 0) { c += 1; i = j + w.length; j = t.indexOf(w, i) }
      c
    }
    val texts = d.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(texts.nonEmpty)
    texts.foreach { case (id, t) =>
      val low = t.toLowerCase
      val counts = dict.map(w => refCount(low, w.toLowerCase))
      val (gotTerms, gotHits, gotKeep) = got(id)
      assert(gotTerms === counts.count(_ > 0), s"n_terms for doc $id")
      assert(gotHits === counts.sum, s"n_hits for doc $id")
      assert(gotKeep === (counts.count(_ > 0) <= 1), s"keep for doc $id")
    }
    // sanity: the planted never-term contributes nowhere; real terms hit
    assert(got.values.exists(_._1 > 0))
  }

  test("KmvSketch corpus property: estimates track exact distincts within " +
      "4-sigma KMV error across randomized cardinality regimes") {
    import graft.functions.KmvSketch
    val rnd = new scala.util.Random(67)
    // groups with planted distinct cardinalities spanning the exact
    // regime (< k), the boundary, and 50x over the sketch size
    val cards = Seq(10, 200, 256, 1000, 12800)
    val rows = cards.zipWithIndex.flatMap { case (card, g) =>
      // duplicates: each distinct value appears 1-3 times
      (0 until card).flatMap(v =>
        Seq.fill(1 + rnd.nextInt(3))((g, v.toLong + g * 1000000L)))
    }
    val df = rows.toDF("g", "v")
    val k = 256
    val got = df.groupBy("g")
      .agg(KmvSketch.sketch(xxhash64(col("v")), k).as("s"),
        countDistinct(col("v")).as("exact"))
      .select(col("g"), col("exact"), col("s.est_distinct").as("est"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.length === cards.length)
    got.foreach { case (g, exact, est) =>
      if (exact < k) {
        // exact regime: the sketch holds every distinct hash
        assert(est === exact.toDouble, s"group $g must be exact")
      } else {
        // KMV relative standard error ~ 1/sqrt(k-2); allow 4 sigma
        val rse = 1.0 / math.sqrt(k - 2.0)
        assert(math.abs(est - exact) / exact <= 4 * rse,
          s"group $g: est $est vs exact $exact beyond 4 sigma")
      }
    }
  }

  test("bm25SearchJoin: single-query batch equals bm25TopK on a null-free " +
      "corpus; multi-query results are per-query independent") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("text").isNotNull)
    val terms = Seq("hash", "join", "spark")
    val single = TextAnalysis.bm25TopK(d, "doc_id", "text", terms, k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val queries = terms.map(t => (7L, t)).toDF("qid", "term")
    val batch = TextAnalysis.bm25SearchJoin(d, "doc_id", "text",
      queries, "qid", "term", k = 10)
      .select("rank", "doc_id", "score")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
      .sortBy(_._1)
    assert(batch === single)
    // two queries in one job score independently: each equals its own
    // single-query run
    val q2terms = Seq("data", "scan")
    val two = TextAnalysis.bm25SearchJoin(d, "doc_id", "text",
      (terms.map(t => (1L, t)) ++ q2terms.map(t => (2L, t))).toDF("qid", "term"),
      "qid", "term", k = 10)
    val got1 = two.filter(col("qid") === 1).select("rank", "doc_id", "score")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq.sortBy(_._1)
    assert(got1 === single)
    val single2 = TextAnalysis.bm25TopK(d, "doc_id", "text", q2terms, k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val got2 = two.filter(col("qid") === 2).select("rank", "doc_id", "score")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq.sortBy(_._1)
    assert(got2 === single2)
  }

  test("removeDupSpans: Lee et al. removal — canonical site kept, all " +
      "other sites' positions removed, intra-doc repeats removed, short " +
      "docs untouched; consistent with dupSpanStats") {
    // doc 1 owns the canonical "a b c" (pos 0); doc 2 repeats it at pos 1;
    // doc 3 repeats it TWICE (intra-doc, pos 0 and 3) and also shares
    // "x y z" with doc 2 — doc 2's earlier (doc,pos) wins that one
    val df = Seq(
      (1L, "a b c tail1 tail2"),
      (2L, "head a b c x y z"),
      (3L, "a b c a b c x y z"),
      (4L, "too short"),
      (5L, null.asInstanceOf[String]),
      (6L, "   ")).toDF("doc_id", "text")
    val got = Dedup.removeDupSpans(df, "doc_id", "text", k = 3)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3))))
      .toMap
    // doc 1: winner of "a b c" -> untouched
    assert(got(1L) === ((5, 0, "a b c tail1 tail2")))
    // doc 2: loses "a b c" (pos 1-3) but WINS every other duplicated
    // span it shares with doc 3 ("b c x", "c x y", "x y z" — doc 2's
    // earlier (doc,pos) sites are the canonical ones), so only the
    // a-b-c positions go. remaining tokens: head (0), x(4), y(5), z(6)
    assert(got(2L) === ((7, 3, "head x y z")))
    // doc 3: both "a b c" copies lose (pos 0-2, 3-5) and "x y z" loses
    // (pos 6-8) -> everything removed. ALSO "b c a"(1), "c a b"(2) are
    // unique spans, "c x y"(5) unique — but their positions are covered.
    assert(got(3L) === ((9, 9, "")))
    // doc 4: < k tokens -> pass-through; NULL text row dropped;
    // blank doc reports the tokenCount contract's 0, not the [""] artifact
    assert(got(4L) === ((2, 0, "too short")))
    assert(!got.contains(5L))
    assert(got(6L) === ((0, 0, "")))
    // cross-check with the profiling signal: docs whose dup_frac is 0
    // must be untouched by removal
    val frac = Dedup.dupSpanStats(df, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(frac(1L) > 0 && frac(2L) > 0 && frac(3L) > 0)
  }

  test("removeDupSpans property: matches a sequential driver reference on " +
      "randomized small-vocab corpora (organic dup spans, all edge paths)") {
    val rnd = new scala.util.Random(271)
    val vocab = Array("a", "b", "c", "d", "e")
    val corpus = (1L to 120L).map { id =>
      val n = rnd.nextInt(12) // includes 0 and < k lengths
      (id, (0 until n).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val k = 3
    // driver reference: same contract, sequential
    val toks = corpus.map { case (id, t) =>
      id -> (if (t.trim.isEmpty) Array("") else
        t.trim.toLowerCase.split("[\\s\\x0B]+"))
    }.toMap
    val sites = scala.collection.mutable.Map.empty[String,
      scala.collection.mutable.ArrayBuffer[(Long, Int)]]
    toks.toSeq.sortBy(_._1).foreach { case (id, ts) =>
      for (p <- 0 to ts.length - k)
        sites.getOrElseUpdate(ts.slice(p, p + k).mkString(" "),
          scala.collection.mutable.ArrayBuffer.empty) += ((id, p))
    }
    val dropByDoc = scala.collection.mutable.Map.empty[Long,
      scala.collection.mutable.Set[Int]]
    sites.values.filter(_.size >= 2).foreach { ss =>
      val w = ss.minBy(identity)
      ss.filterNot(_ == w).foreach { case (id, p) =>
        val d = dropByDoc.getOrElseUpdate(id, scala.collection.mutable.Set.empty)
        (p until p + k).foreach(d += _)
      }
    }
    val want = toks.map { case (id, ts) =>
      val drops: scala.collection.Set[Int] =
        dropByDoc.getOrElse(id, scala.collection.mutable.Set.empty[Int])
      val kept = ts.indices.filterNot(i => drops.contains(i)).map(ts)
      val nTok = if (ts.length == 1 && ts(0) == "") 0 else ts.length
      id -> ((nTok, drops.size, kept.mkString(" ")))
    }
    val got = Dedup.removeDupSpans(corpus.toDF("doc_id", "text"),
      "doc_id", "text", k)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (id, w) => assert(got(id) === w, s"doc $id") }
    // non-vacuous: the small vocab guarantees organic duplicate spans
    assert(got.values.exists(_._2 > 0))
  }

  test("bpeTrain matches a sequential reference BPE; bpeSegment applies " +
      "the learned merges") {
    val corpus = Seq(
      (1L, "low lower lowest low low"),
      (2L, "new newer newest new"),
      (3L, "low new lower newer"),
      (4L, "wide wider widest wide"))
    // sequential reference (Sennrich et al.): word freq -> char syms ->
    // repeat: count pairs, merge the (count desc, lhs, rhs) winner
    def seqBpe(docs: Seq[String], n: Int): Seq[(Int, String, String, Long)] = {
      val freq = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      docs.flatMap(_.trim.toLowerCase.split("\\s+")).filter(_.matches("^[!-~]+$"))
        .foreach(w => freq(w) = freq.getOrElse(w, 0L) + 1)
      var state: Map[Vector[String], Long] =
        freq.toSeq.map { case (w, f) => (w.split("").toVector :+ "</w>") -> f }
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      for (r <- 1 to n) {
        val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
        state.foreach { case (syms, f) =>
          syms.sliding(2).filter(_.size == 2).foreach(p =>
            pairs((p(0), p(1))) = pairs.getOrElse((p(0), p(1)), 0L) + f) }
        if (pairs.nonEmpty) {
          val ((a, b), c) = pairs.toSeq.minBy { case ((x, y), m) => (-m, x, y) }
          out += ((r, a, b, c))
          state = state.toSeq.map { case (syms, f) =>
            val acc = scala.collection.mutable.ArrayBuffer.empty[String]
            syms.foreach { s =>
              if (acc.nonEmpty && acc.last == a && s == b)
                acc(acc.size - 1) = a + b
              else acc += s }
            acc.toVector -> f
          }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
        }
      }
      out.toSeq
    }
    val want = seqBpe(corpus.map(_._2), 8)
    val got = TextAnalysis.bpeTrain(corpus.toDF("doc_id", "text"), "text", 8)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got === want)
  }

  test("bpeTrain driver-merged pair counts keep the exact tie order " +
      "(count desc, lhs asc, rhs asc) and stop early when pairs run out") {
    // every adjacent pair has count 2 — the winner each round is decided
    // ONLY by the (lhs, rhs) ascending tie-break, exercising the driver
    // comparator that replaced the SQL TakeOrderedAndProject
    val corpus = Seq((1L, "ab ab cd cd"))
    val got = TextAnalysis.bpeTrain(corpus.toDF("doc_id", "text"), "text", 8)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got === Seq(
      (1, "a", "b", 2L),       // tie on 2: lhs "a" beats "b"/"c"/"d"
      (2, "ab", "</w>", 2L),   // "ab" < "c" binary-ascii
      (3, "c", "d", 2L),
      (4, "cd", "</w>", 2L)))  // then no pair remains: early stop at 4 < 8
  }
}
