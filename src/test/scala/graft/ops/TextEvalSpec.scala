package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** r11 batch: Kneser-Ney bigram LM, FastSS edit-distance pairs, BLEU
  * clipped-precision scoring, distributed embedding moments. */
class TextEvalSpec extends SparkSpec {

  import spark.implicits._

  // ---- Kneser-Ney ----

  test("knBigramNll: hand-computed probabilities on a 4-bigram model") {
    // model bigrams: (a,b) x2, (b,a) x1, (a,c) x1
    val model = Seq("a b a c", "a b").toDF("text")
      .withColumn("doc_id", lit(0L))
    val docs = Seq(
      (1L, "a b"),   // seen bigram: discount + lambda mass
      (2L, "z b"),   // OOV context -> pure continuation
      (3L, "a"),     // <2 tokens -> 0
      (4L, "a zzq")  // seen context, OOV continuation -> floor via pcont
    ).toDF("doc_id", "text")
    val out = TextAnalysis.knBigramNll(model, docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    // counts: c(a,b)=2, c(b,a)=1, c(a,c)=1; ctx a: c1=3, n1f=2; b: c1=1,
    // n1f=1; T=3 types; V={a,b,c}=3; pcont(w)=(n1p+0.5)/(3+1.5)
    val pcB = (1 + 0.5) / 4.5   // n1p(b)=1 (only a precedes b)
    val pAB = math.max(2 - 0.75, 0) / 3.0 + (0.75 * 2 / 3.0) * pcB
    val pcOov = 0.5 / 4.5
    val pAZzq = 0.0 / 3.0 + (0.75 * 2 / 3.0) * pcOov
    def nll(p: Double) = BigDecimal(-math.log(p))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0) === ((1L, 1L, nll(pAB))))
    assert(out(1) === ((2L, 1L, nll(pcB))))
    assert(out(2) === ((3L, 0L, 0.0)))
    assert(out(3) === ((4L, 1L, nll(pAZzq))))
  }

  test("paragraphPerplexityFilter: drops bad paragraphs, rebuilds text, edge docs") {
    val model = Seq("the cat sat on the mat", "the dog sat on the rug",
      "a cat and a dog").toDF("text").withColumn("doc_id", lit(0L))
    val good1 = "the cat sat on the mat"
    val good2 = "a cat and a dog"
    val bad = "zzq1 zzq2 zzq3 zzq4" // all-OOV bigrams -> continuation floor
    // derive the threshold from the scores themselves (no hand tuning):
    // halfway between the worst good paragraph and the OOV floor
    val sc = TextAnalysis.knBigramNll(model,
        Seq((1L, good1), (2L, good2), (3L, bad)).toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.max(sc(1L), sc(2L)) < sc(3L),
      s"fixture must separate: $sc")
    val thr = (math.max(sc(1L), sc(2L)) + sc(3L)) / 2
    val docs = Seq(
      (1L, s"$good1\n\n$bad\n\n$good2"), // middle drops, seam rejoins
      (2L, good2),                       // single paragraph, kept as-is
      (3L, s"$bad\n\n$bad"),             // every paragraph bad -> vanishes
      (4L, "tok")                        // <2 tokens -> NLL 0 -> kept
    ).toDF("doc_id", "text")
    val out = TextAnalysis.paragraphPerplexityFilter(model, docs,
        "doc_id", "text", maxNll = thr)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.keySet == Set(1L, 2L, 4L), "all-bad doc must vanish")
    assert(out(1L) == ((1L, s"$good1\n\n$good2", 3L, 2L)),
      "survivors rejoin in original order across the dropped seam")
    assert(out(2L) == ((2L, good2, 1L, 1L)))
    assert(out(4L) == ((4L, "tok", 1L, 1L)),
      "a sub-bigram paragraph carries no LM evidence and stays")
  }

  test("perplexityBuckets: per-group thirds, tie discipline, single-doc group") {
    val model = Seq("the cat sat on the mat", "the dog sat on the rug",
      "a cat and a dog").toDF("text").withColumn("doc_id", lit(0L))
    // group 'a': six docs from clean (in-model) to OOV-garbage; group
    // 'b': one doc (percent_rank 0 -> head); group 'c': three IDENTICAL
    // docs (fully tied NLL -> buckets split deterministically by id)
    val docs = Seq(
      (1L, "a", "the cat sat on the mat"),
      (2L, "a", "the dog sat on the rug"),
      (3L, "a", "a cat and a dog"),
      (4L, "a", "the cat zzq1 on the mat"),
      (5L, "a", "zzq1 zzq2 the cat"),
      (6L, "a", "zzq1 zzq2 zzq3 zzq4"),
      (7L, "b", "the cat sat on the mat"),
      (8L, "c", "the dog sat"),
      (9L, "c", "the dog sat"),
      (10L, "c", "the dog sat")
    ).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.perplexityBuckets(model, docs, "doc_id",
        "text", "lang")
      .as[(Long, String, Long, Double, String)].collect()
      .map(r => r._1 -> r).toMap
    // group a: ranks follow NLL; 6 docs cut 2/2/2
    val aBuckets = (1L to 6L).map(out(_)._5)
    assert(aBuckets.count(_ == "head") == 2 &&
      aBuckets.count(_ == "middle") == 2 &&
      aBuckets.count(_ == "tail") == 2, aBuckets)
    // the OOV-heavy docs rank worst
    assert(out(6L)._5 == "tail" && out(5L)._5 == "tail")
    // single-doc group: percent_rank 0 -> head
    assert(out(7L)._5 == "head")
    // fully tied group: identical NLLs split by doc_id order
    assert(out(8L)._4 == out(9L)._4 && out(9L)._4 == out(10L)._4)
    assert(out(8L)._5 == "head" && out(9L)._5 == "middle" &&
      out(10L)._5 == "tail")
  }

  test("gopherRepetitionRules: hand-computed fractions, caps, no-evidence pass") {
    val docs = Seq(
      (1L, "a b\na b\nc d"),                       // duplicated line
      (2L, (0 until 40).map(i => s"w$i").mkString(" ")), // clean
      (3L, Seq.fill(4)((0 until 10).map(i => s"t$i").mkString(" "))
        .mkString(" ")),                           // 10-gram flood
      (4L, "x"),                                   // no grams, one line
      (5L, "p q\n\np q")                           // duplicated paragraph
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis
      .gopherRepetitionRules(docs, "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    def f(id: Long, c: String) = out(id).getAs[Double](c)
    // doc 1: lines "a b","a b","c d" -> 1/3 dup; dup chars 3/11; top
    // 2-gram ("a b", 2 occurrences) -> 6/11
    assert(f(1, "dup_line_frac") == 0.333333)
    assert(f(1, "dup_line_char_frac") == 0.272727)
    assert(f(1, "top_2gram_char_frac") == 0.545455)
    assert(f(1, "dup_5gram_char_frac") == 0.0)
    assert(!out(1L).getAs[Boolean]("repetition_pass"))
    // doc 2: all-distinct tokens, single line -> passes every rule
    assert(out(2L).getAs[Boolean]("repetition_pass"))
    assert(f(2, "dup_line_frac") == 0.0 && f(2, "dup_10gram_char_frac") == 0.0)
    // doc 3: every 10-gram repeats across the 4 copies -> the
    // duplicated-gram accounting saturates at the 1.0 cap and fails
    assert(f(3, "dup_10gram_char_frac") == 1.0)
    assert(f(3, "dup_5gram_char_frac") == 1.0)
    assert(!out(3L).getAs[Boolean]("repetition_pass"))
    // doc 4: one token, one line — no n-gram or duplicate evidence
    // anywhere => every fraction 0, pass (the no-evidence convention)
    assert(out(4L).getAs[Boolean]("repetition_pass"))
    (2 to 10).foreach { n =>
      val c = if (n <= 4) s"top_${n}gram_char_frac"
              else s"dup_${n}gram_char_frac"
      assert(f(4, c) == 0.0, c)
    }
    // doc 5: "p q" twice as paragraphs AND as (empty-filtered) lines
    assert(f(5, "dup_para_frac") == 0.5 && f(5, "dup_line_frac") == 0.5)
    assert(!out(5L).getAs[Boolean]("repetition_pass"))
  }

  test("gopherRepetitionRules: native gram leg == HOF spec twin, incl. tie/unicode/cap edges") {
    // the GopherCounts convention: the relational spelling pins the
    // native expression's exact accounting. Rows chosen to force every
    // divergence channel: count ties (binary-order gram tie-break),
    // multi-byte code-point lengths, the 1.0 cap, no-gram docs, empty
    // text, and a doc whose top gram occurs once (the exemption)
    val docs = Seq(
      (1L, "a b\na b\nc d"),
      (2L, (0 until 40).map(i => s"w$i").mkString(" ")),
      (3L, Seq.fill(4)((0 until 10).map(i => s"t$i").mkString(" "))
        .mkString(" ")),
      (4L, "x"),
      (5L, "p q\n\np q"),
      // bigrams "b c" x3 and "c b" x3 tie on count — the winner must be
      // the LARGEST (count, gram) pair under binary string order
      (6L, "b c b c c b c b"),
      (7L, "héllo wörld héllo wörld héllo"),
      (8L, ""),
      (9L, "привет мир привет мир привет"),
      (10L, "one two three four five six seven eight nine ten eleven")
    ).toDF("doc_id", "text")
    val native = graft.ops.TextAnalysis
      .gopherRepetitionRules(docs, "doc_id")
    val hof = graft.ops.TextAnalysis
      .gopherRepetitionRulesHof(docs, "doc_id")
    assert(native.columns.sameElements(hof.columns))
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty,
      s"native:\n${native.orderBy("doc_id").collect().mkString("\n")}\n" +
        s"hof:\n${hof.orderBy("doc_id").collect().mkString("\n")}")
  }

  test("word_grams / word_grams_tagged: windows, short-doc emptiness, null slots") {
    import graft.functions.WordGramFunctions._
    val toks = Seq(Tuple1(Seq("a", "bb", "c", "dd"))).toDF("t")
    assert(toks.select(word_grams(col("t"), 2)).head.getSeq[String](0) ==
      Seq("a bb", "bb c", "c dd"))
    assert(toks.select(word_grams(col("t"), 4)).head.getSeq[String](0) ==
      Seq("a bb c dd"))
    // len < n -> EMPTY (no whole-text fallback: span/novelty consumers
    // must not fabricate grams)
    assert(toks.select(word_grams(col("t"), 5)).head.getSeq[String](0).isEmpty)
    val tagged = toks.select(explode(word_grams_tagged(col("t"), Seq(1, 3))).as("ng"))
      .select(col("ng.n"), col("ng.g")).as[(Int, String)].collect().toSeq
    assert(tagged == Seq((1, "a"), (1, "bb"), (1, "c"), (1, "dd"),
      (3, "a bb c"), (3, "bb c dd")))
    // a hostile null slot is SKIPPED with no separator — the
    // concat_ws(" ", ...) contract of the lambda spelling these
    // expressions replaced, so gram identity (and MinHash signatures
    // downstream) is stable across the rewrite; never NPEs
    val withNull = spark.sql("select array('a', cast(null as string), 'b') t")
    assert(withNull.select(word_grams(col("t"), 3)).head.getSeq[String](0) ==
      Seq("a b"))
    val allNull = spark.sql(
      "select array(cast(null as string), cast(null as string)) t")
    assert(allNull.select(word_grams(col("t"), 2)).head.getSeq[String](0) ==
      Seq(""))
    // whole-text fallback (the Dedup.shingles contract): len <= n ->
    // ONE whole-text shingle, empty array -> [""] — exactly what
    // array(concat_ws(" ", tokens)) produced
    assert(toks.select(word_grams_whole(col("t"), 5)).head.getSeq[String](0)
      == Seq("a bb c dd"))
    assert(toks.select(word_grams_whole(col("t"), 4)).head.getSeq[String](0)
      == Seq("a bb c dd"))
    assert(toks.select(word_grams_whole(col("t"), 2)).head.getSeq[String](0)
      == Seq("a bb", "bb c", "c dd"))
    val empty = spark.sql("select cast(array() as array<string>) t")
    assert(empty.select(word_grams_whole(col("t"), 3)).head.getSeq[String](0)
      == Seq(""))
  }

  test("knBigramNll: probabilities stay in (0,1], nll >= 0") {
    val model = (0 until 40)
      .map(i => (i.toLong, s"w${i % 7} w${(i * 3) % 5} w${i % 7} end"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.knBigramNll(model, model, "doc_id", "text")
    assert(out.filter(col("kn_nll") < 0).count() === 0)
    assert(out.count() === 40)
  }

  // ---- FastSS edit-distance pairs ----

  private def naivePairs(rows: Seq[(Long, String)], k: Int): Set[(Long, Long, Int)] = {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    (for {
      (ia, sa) <- rows; (ib, sb) <- rows
      if ia < ib
      dist = lev(sa, sb)
      if dist <= k
    } yield (ia, ib, dist)).toSet
  }

  test("editDistancePairs: equals the naive all-pairs scan (k=1)") {
    val rows = Seq(1L -> "abc", 2L -> "abd", 3L -> "ab", 4L -> "abcd",
      5L -> "xbc", 6L -> "zzz", 7L -> "abc")
    val got = Dedup.editDistancePairs(rows.toDF("id", "s"), "id", "s", 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === naivePairs(rows, 1))
    assert(got.contains((1L, 7L, 0)))  // exact dup
    assert(got.contains((1L, 2L, 1)))  // substitution
    assert(got.contains((1L, 3L, 1)))  // deletion
    assert(got.contains((1L, 4L, 1)))  // insertion
    assert(!got.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("editDistancePairs: empty strings pair with each other and 1-char strings") {
    val rows = Seq(1L -> "", 2L -> "", 3L -> "a", 4L -> "ab")
    val got = Dedup.editDistancePairs(rows.toDF("id", "s"), "id", "s", 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === naivePairs(rows, 1))
    assert(got.contains((1L, 2L, 0)) && got.contains((1L, 3L, 1)))
  }

  test("editDistancePairs: recall-complete vs naive on random strings (k=2)") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 60).map(i =>
      i.toLong -> (0 until (3 + rnd.nextInt(5))).map(_ =>
        ('a' + rnd.nextInt(3)).toChar).mkString)
    val got = Dedup.editDistancePairs(rows.toDF("id", "s"), "id", "s", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === naivePairs(rows, 2))
  }

  // ---- BLEU ----

  test("bleuScore: identical candidate scores 1, repetition clips, brevity fires") {
    val df = Seq(
      (1L, "the cat sat on the mat", "the cat sat on the mat"),
      (2L, "the the the the", "the cat sat on the mat"),
      (3L, "the cat sat on", "the cat sat on the mat")
    ).toDF("doc_id", "cand", "ref")
    val out = TextAnalysis.bleuScore(df, "cand", "ref")
      .orderBy("doc_id")
      .select("doc_id", "p1", "p2", "p3", "p4", "brevity", "bleu")
      .collect()
    // identical: all precisions 1, brevity 1, bleu 1
    assert(out(0).getDouble(1) === 1.0 && out(0).getDouble(6) === 1.0)
    // "the the the the" vs ref with 2 'the': p1 = min(4,2)/4 = 0.5,
    // no bigram overlap -> p2 = 0 -> bleu = 0
    assert(out(1).getDouble(1) === 0.5)
    assert(out(1).getDouble(2) === 0.0)
    assert(out(1).getDouble(6) === 0.0)
    // 4-token prefix candidate: all precisions 1, brevity = exp(1 - 6/4)
    assert(out(2).getDouble(1) === 1.0 && out(2).getDouble(4) === 1.0)
    val bp = BigDecimal(math.exp(1.0 - 6.0 / 4.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(2).getDouble(5) === bp)
    assert(out(2).getDouble(6) === bp) // all p_n = 1 -> bleu = brevity
  }

  // ---- MaxSim late interaction ----

  test("maxSimTopK: per-query-token max then sum, hand-computed") {
    // doc 1 tokens: (1,0), (0,1); doc 2 tokens: (1,0), (1,0)
    val docs = Seq(
      (1L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f))
    ).toDF("doc_id", "v")
    // query tokens: (1,0) and (0,1)
    val q = Seq((0, Array(1.0f, 0.0f)), (1, Array(0.0f, 1.0f)))
      .toDF("q_tok", "v")
    val out = Similarity.maxSimTopK(docs, q, "doc_id", "q_tok", "v", k = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // doc 1: qt0 max cos = 1 (token (1,0)), qt1 max cos = 1 -> 2.0
    // doc 2: qt0 max = 1, qt1 max = 0 -> 1.0; ranked doc1 > doc2
    assert(out.toSeq === Seq((1L, 2.0), (2L, 1.0)))
  }

  // ---- privacy ----

  test("kAnonymity: classes below k flag risky, counts conserve") {
    val df = Seq(("a", 1), ("a", 1), ("a", 1), ("b", 2), ("b", 2),
      ("c", 3)).toDF("q1", "q2")
    val out = Privacy.kAnonymity(df, Seq("q1", "q2"), k = 3)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(out === Set(("a", 3L, false), ("b", 2L, true), ("c", 1L, true)))
  }

  test("dpCounts: seeded noise is reproducible and scales exactly 1/epsilon") {
    val df = (1 to 50).map(i => s"g${i % 3}").toDF("g")
    def run(eps: Double) = Privacy.dpCounts(df, "g", eps, "seed7")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val a = run(0.5); val b = run(0.5); val c = run(2.0)
    assert(a.toSeq === b.toSeq) // same seed -> identical release
    // same uniform draw, scale 1/eps: noise(0.5) = 4 * noise(2.0) (6dp)
    a.zip(c).foreach { case ((g1, n1, no1), (g2, n2, no2)) =>
      assert(g1 === g2 && n1 === n2)
      assert(math.abs(no1 - 4.0 * no2) < 5e-6)
      assert(no1 !== 0.0) // the draw actually perturbs
    }
  }

  // ---- Benford profile ----

  test("benfordProfile: nine rows always, zeros excluded, spike dominates chi2") {
    val df = ((1 to 90).map(_ => 9.5) ++ (1 to 10).map(_ => 1.25) ++
      Seq(0.0)).toDF("v")
    val out = graft.quality.DataQuality.benfordProfile(df, "v")
      .orderBy("digit").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(4)))
    assert(out.length === 9)
    val byDigit = out.map(t => t._1 -> t).toMap
    assert(byDigit(1)._2 === 10L && byDigit(1)._3 === 0.1) // n=100: zero excluded
    assert(byDigit(9)._2 === 90L && byDigit(9)._3 === 0.9)
    (2 to 8).foreach(d => assert(byDigit(d)._2 === 0L))
    assert(byDigit(9)._4 > byDigit(1)._4) // the spike digit dominates chi2
    assert(byDigit(2)._4 > 0)             // an unused digit still contributes
  }

  // ---- record linkage ----

  test("linkRecords: fuzzy agreement, boundary match, review tier, drops") {
    val a = Seq((1L, "b1", "alice", 7, "GOLD"),
      (2L, "b1", "bob", 7, "SILVER")).toDF("id", "blk", "name", "nat", "seg")
    val b = Seq(
      (10L, "b1", "alicx", 7, "GOLD"),   // fuzzy name + all agree: 6.0
      (11L, "b1", "alize", 7, "BRONZE"), // seg disagrees: exactly 4.0
      (13L, "b1", "alice", 9, "GOLD"),   // nat disagrees: 3.5 possible
      (12L, "b1", "carol", 7, "GOLD")    // name disagrees: 1.0 dropped
    ).toDF("id", "blk", "name", "nat", "seg")
    val got = Dedup.linkRecords(a, b, "id", "blk",
        Seq(Dedup.LinkField("name", 3.0, -2.0, maxDist = 1),
          Dedup.LinkField("nat", 1.5, -1.0),
          Dedup.LinkField("seg", 1.5, -0.5)),
        upper = 4.0, lower = 2.0)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(5), r.getString(6))).toSet
    assert(got === Set((1L, 10L, 6.0, "match"), (1L, 11L, 4.0, "match"),
      (1L, 13L, 3.5, "possible")))
  }

  // ---- NDCG ----

  test("ndcgAtK: perfect ranking scores 1; unjudged leader costs rank and MRR") {
    val rel = Seq((1L, 10L, 1.0), (1L, 11L, 0.5)).toDF("qid", "id", "rel")
    val perfect = Seq((1L, 10L, 0.9), (1L, 11L, 0.8)).toDF("qid", "id", "s")
    val p = Similarity.ndcgAtK(perfect, rel, "qid", "id", "s", "rel", 2)
      .collect().head
    assert(p.getDouble(3) === 1.0) // ndcg
    assert(p.getDouble(4) === 1.0) // mrr
    // an unjudged doc wins rank 1, best judged doc lands rank 2
    val degraded = Seq((1L, 99L, 0.95), (1L, 10L, 0.9)).toDF("qid", "id", "s")
    val d = Similarity.ndcgAtK(degraded, rel, "qid", "id", "s", "rel", 2)
      .collect().head
    assert(d.getDouble(3) > 0 && d.getDouble(3) < 1.0)
    assert(d.getDouble(4) === 0.5) // first judged hit at rank 2
  }

  // ---- embedding moments ----

  test("embeddingMoments: means and sample covariance of a 2-d fixture") {
    val df = Seq(Array(1.0f, 2.0f), Array(3.0f, 4.0f), Array(5.0f, 6.0f))
      .toDF("v")
    val out = Similarity.embeddingMoments(df, "v")
      .orderBy("i", "j").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    // vectors (1,2),(3,4),(5,6): m=(3,4); var = 4 each; cov(0,1) = 4
    assert(out.length === 3)
    assert(out.map(t => (t._1, t._2)).toSeq === Seq((0, 0), (0, 1), (1, 1)))
    val byKey = out.map(t => (t._1, t._2) -> t).toMap
    val p01 = byKey((0, 1))
    assert(p01._3 === 3L)
    assert(p01._4 === 3.0 && p01._5 === 4.0)
    assert(math.abs(p01._6 - 44.0 / 3) < 1e-5)
    assert(math.abs(byKey((0, 0))._7 - 4.0) < 1e-5)
    assert(math.abs(byKey((1, 1))._7 - 4.0) < 1e-5)
    assert(math.abs(p01._7 - 4.0) < 1e-5)
  }

  // ---- r12 advice regression pins ----

  test("bleuScore: empty candidate folds brevity to 0.0, never NULL (r11 advice)") {
    // Spark's Divide gives NULL on refLen/0 while a double-division
    // engine gives exp(-inf) = 0.0 — the guard pins both to literal 0.0.
    // The empty-empty pair stays brevity 1 (0 >= 0 wins the first branch).
    val df = Seq(
      (1L, "", "the cat sat"), // empty cand, non-empty ref
      (2L, "", ""),            // empty-empty
      (3L, "the cat sat down", "the cat sat down")
    ).toDF("doc_id", "cand", "ref")
    val out = TextAnalysis.bleuScore(df, "cand", "ref")
      .orderBy("doc_id").select("doc_id", "brevity", "bleu").collect()
    assert(!out(0).isNullAt(1), "brevity must not be NULL on empty cand")
    assert(out(0).getDouble(1) === 0.0 && out(0).getDouble(2) === 0.0)
    assert(out(1).getDouble(1) === 1.0 && out(1).getDouble(2) === 0.0)
    assert(out(2).getDouble(1) === 1.0 && out(2).getDouble(2) === 1.0)
  }

  test("dpCounts: noise is finite for every group (endpoint clamp, r11 advice)") {
    // u = (hash + 0.5)/2^52 keeps 1 - 2|u - 1/2| >= 2^-52 > 0, so ln()
    // can never hit -inf no matter which 52-bit draw a group lands on.
    // Sweep a few thousand group keys as a sanity net over the clamp.
    val df = (1 to 4000).map(i => s"grp$i").toDF("g")
    val noises = Privacy.dpCounts(df, "g", epsilon = 0.5, seed = "s")
      .select("noise").collect().map(_.getDouble(0))
    assert(noises.length === 4000)
    noises.foreach(n => assert(!n.isInfinite && !n.isNaN))
    // |noise| stays below the clamp's hard ceiling (1/eps)*ln(2^52)
    noises.foreach(n => assert(math.abs(n) <= 2.0 * 52 * math.log(2.0) + 1e-6))
  }

  // ---- grouped OLS ----

  test("groupedOls: hand-computed fit, degenerate group, epoch-day magnitudes") {
    // exact line y = 2x + 1 on the 6dp grid -> slope 2, intercept 1, r2 1
    val line = Seq(("a", 1.0, 3.0), ("a", 2.0, 5.0), ("a", 3.0, 7.0),
      // constant x -> den = 0 -> slope 0, intercept mean(y), r2 0
      ("b", 5.0, 1.0), ("b", 5.0, 2.0), ("b", 5.0, 6.0))
      .toDF("g", "x", "y")
    val out = Stats.groupedOls(line, "g", "x", "y").orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out(0) === (("a", 3L, 2.0, 1.0, 1.0)))
    assert(out(1) === (("b", 3L, 0.0, 3.0, 0.0)))
  }

  test("groupedOls: partition-order invariant at epoch-day x (the x156 regime)") {
    // x ~ 2e4 epoch days with fractional parts — the magnitude where the
    // r11 double->DECIMAL(38,18) formulation diverged cross-engine; the
    // micro-unit grid must make the sums order-invariant bit-for-bit
    val df = spark.range(2000).select(
      (col("id") % 4).cast("string").as("g"),
      (lit(20600.0) + col("id").cast("double") / 81.0).as("x"),
      (col("id").cast("double") * 1.37 - 700.0).as("y"))
    def run(parts: Int) =
      Stats.groupedOls(df.repartition(parts), "g", "x", "y")
        .orderBy("g").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4))).toSeq
    assert(run(1) === run(13))
  }

  test("groupedOls: refuses terms past the 9e12 long-saturation bound") {
    // x = y = 1e10 -> x*y = 1e20, whose micro-unit snap would silently
    // saturate the long cast; the guard must fail loudly instead
    val df = Seq(("a", 1.0e10, 1.0e10), ("a", 2.0e10, 2.0e10))
      .toDF("g", "x", "y")
    val ex = intercept[Throwable] {
      Stats.groupedOls(df, "g", "x", "y").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("groupedOls")), msgs(ex).mkString("; "))
  }

  // ---- ROUGE-L ----

  test("rougeL: hand-computed LCS incl. non-contiguous and repeated tokens") {
    val df = Seq(
      // LCS("a b c d e", "a x c y e") = a c e = 3
      (1L, "a b c d e", "a x c y e"),
      // identical -> lcs = len, P = R = F = 1
      (2L, "p q r", "p q r"),
      // swapped halves: LCS("a b c d", "c d a b") = 2 (either half)
      (3L, "a b c d", "c d a b"),
      // repeats: LCS("t u t u t", "t t t") = 3 (subsequence, not n-gram)
      (4L, "t u t u t", "t t t"),
      // disjoint -> 0; empty ref -> all ratios 0, never NULL
      (5L, "a b", "x y"),
      (6L, "a b", " ")
    ).toDF("id", "cand", "ref")
    val got = TextAnalysis.rougeL(df, "cand", "ref")
      .select("id", "lcs", "cand_len", "ref_len", "rouge_p", "rouge_r",
        "rouge_f")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6))).toMap
    assert(got(1L) === ((3, 5, 5, 0.6, 0.6, 0.6)))
    assert(got(2L) === ((3, 3, 3, 1.0, 1.0, 1.0)))
    assert(got(3L)._1 === 2)
    assert(got(4L) === ((3, 5, 3, 0.6, 1.0, 0.75)))
    assert(got(5L) === ((0, 2, 2, 0.0, 0.0, 0.0)))
    assert(got(6L) === ((0, 2, 0, 0.0, 0.0, 0.0)))
  }

  test("vocabGrowth: cum accounting; all-unique tokens fit Heaps beta = 1 exactly") {
    // every token globally unique -> V(N) = N -> ln V = ln N on every
    // point -> slope 1, r2 1; new_types == shard_tokens per shard
    val docs = Seq(
      (0L, "a1 a2 a3"), (0L, "a4 a5"),
      (1L, "b1 b2 b3 b4"),
      (2L, "c1 c2")
    ).toDF("shard", "text")
    val got = TextAnalysis.vocabGrowth(docs, "shard", "text")
      .orderBy("shard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(got.toSeq === Seq(
      (0L, 5L, 5L, 5L, 5L, 1.0, 1.0),
      (1L, 4L, 4L, 9L, 9L, 1.0, 1.0),
      (2L, 2L, 2L, 11L, 11L, 1.0, 1.0)))
    // repeated vocabulary: a later shard re-using shard 0's tokens adds
    // occurrences but no new types
    val rep = Seq((0L, "x y"), (1L, "x y"), (1L, "z"))
      .toDF("shard", "text")
    val g2 = TextAnalysis.vocabGrowth(rep, "shard", "text")
      .orderBy("shard").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4)))
    assert(g2.toSeq === Seq((0L, 2L, 2L), (1L, 1L, 3L)))
  }

  test("frequencySpectrum: hand spectrum, Turing r*, unseen mass, tail hole") {
    val docs = Seq("a a a b b c").toDF("text")
    val got = TextAnalysis.frequencySpectrum(docs, "text", maxR = 20)
      .orderBy("r").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // counts a:3 b:2 c:1 -> n_1=n_2=n_3=1; r*(1)=2*1/1, r*(2)=3*1/1,
    // r*(3)=0 (n_4 unobserved); p0 = n_1/N = 1/6
    assert(got.toSeq === Seq(
      (1L, 1L, 2.0, 0.166667),
      (2L, 1L, 3.0, 0.166667),
      (3L, 1L, 0.0, 0.166667)))
  }

  test("rougeL: case folding and order sensitivity (reversal collapses to 1)") {
    val df = Seq((1L, "Alpha Beta Gamma", "gamma beta alpha")).toDF("id", "cand", "ref")
    val r = TextAnalysis.rougeL(df, "cand", "ref").select("lcs").head().getInt(0)
    assert(r === 1) // any single token; reversal kills subsequence order
  }

  test("token_splice: value-identical to the array_join/filter HOF spelling") {
    import graft.functions.SpliceFunctions.token_splice
    // every divergence channel: middle/edge removals, empty removals,
    // NULL removals (the left-join miss), full removal, empty tokens,
    // out-of-range and never-matching entries, null token slots
    val rows = spark.sql("""
      select * from values
        (1, array('a','b','c','d'), array(1, 2)),
        (2, array('a','b','c'),     array(0)),
        (3, array('a','b','c'),     array(2)),
        (4, array('a','b','c'),     cast(array() as array<int>)),
        (5, array('a','b','c'),     cast(null as array<int>)),
        (6, array('a','b','c'),     array(0, 1, 2)),
        (7, cast(array() as array<string>), array(0)),
        (8, array('a', cast(null as string), 'b'), array(0)),
        (9, array('a','b'),         array(-3, 5, 17)),
        (10, cast(null as array<string>), array(0))
        as t(id, toks, rm)""")
    val native = rows.select(col("id"),
      token_splice(col("toks"), col("rm")).as("s"))
    val hof = rows.select(col("id"),
      array_join(filter(col("toks"), (_, i) =>
        not(coalesce(array_contains(col("rm"), i), lit(false)))),
        " ").as("s"))
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty,
      s"native:\n${native.orderBy("id").collect().mkString("\n")}\n" +
        s"hof:\n${hof.orderBy("id").collect().mkString("\n")}")
    // pinned literals for the load-bearing edges
    val got = native.orderBy("id").collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
      .toMap
    assert(got(1) == "a d" && got(5) == "a b c" && got(6) == "" &&
      got(7) == "" && got(8) == "b" && got(9) == "a b" && got(10) == null)
    // non-nullable tokens nested under when(...): the parent's generated
    // code reads the child's isNull. spark.range input keeps the plan off
    // the LocalRelation fold, and CODEGEN_ONLY turns a compile error into
    // a failure instead of a silent interpreted fallback
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      val ranged = spark.range(0, 40, 1, 2).select(col("id"),
        array(lit("a"), concat(lit("t"), col("id").cast("string")),
          lit("b")).as("toks"),
        array(pmod(col("id"), lit(3)).cast("int")).as("rm"))
      val even = pmod(col("id"), lit(2)) === 0
      val nativeW = ranged.select(col("id"),
        when(even, token_splice(col("toks"), col("rm"))).as("s"))
      val hofW = ranged.select(col("id"),
        when(even, array_join(filter(col("toks"), (_, i) =>
          not(coalesce(array_contains(col("rm"), i), lit(false)))), " ")).as("s"))
      val a = nativeW.orderBy("id").collect().toSeq
      assert(a == hofW.orderBy("id").collect().toSeq)
      assert(a.count(!_.isNullAt(1)) == 20)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
