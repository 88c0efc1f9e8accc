package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Bm25Store, Cdc, CdcStore, Dedup, Multimodal, Packing, Sampling,
  TextAnalysis}

/** Text pipeline at scale: n word-soup documents (~40 tokens each)
  * through the per-row corpus ops and the windowed/aggregated ones.
  * Evidence that the tokenize-once explode shapes and shard-local windows
  * hold far beyond the 500-doc harness table (2000x sf0.1 at 1M):
  * everything here is a constant number of shuffles independent of
  * corpus size. Filter e.g. `CDC|BM25` for the two store families. */
private[tools] object SmokeText {
  def run(r: Smoke.Run): Unit = {
    import r._
    val corpus = soupCorpus.withColumn("lang",
      concat(lit("lang"), pmod(col("doc_id"), lit(8)).cast("string")))
    timed(s"corpus materialize ($n docs)")(corpus.count())
    time("quality metrics (map-only)")(
      TextAnalysis.qualityMetrics(corpus).agg(sum("token_cnt")).head())
    time("boilerplate + PII scrub (per-row)")(
      TextAnalysis.scrubPii(TextAnalysis.boilerplateFilters(corpus))
        .agg(sum(when(col("keep"), 1).otherwise(0)), sum(length(col("scrubbed"))))
        .head())
    time("chunking (per-row windows)")(
      TextAnalysis.chunkByTokens(corpus, "doc_id", "text", 32, 8)
        .agg(count(lit(1)), sum("n_chunk_tokens")).head())
    // CDC: gear chunking is one native per-row pass (map-only); the
    // re-crawl delta joins narrow (id, digest, len) rows only. v2 =
    // same corpus with every third doc head-edited — reuse must read
    // ~2/3 exact-1.0 plus resynced tails, the edit-stability contract
    // at corpus scale
    val chunk = (d: DataFrame) =>
      Cdc.chunks(d, "doc_id", "text", maskBits = 5, minLen = 32, maxLen = 256)
    time("CDC gear chunking (map-only)")(
      chunk(corpus).agg(count(lit(1)), sum("len")).head())
    time("CDC re-crawl delta (digest join)") {
      val v2 = corpus.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("recrawl-edit "), col("text")))
          .otherwise(col("text")).as("text"))
      val r = Cdc.chunkReuse(chunk(corpus), chunk(v2))
        .agg(sum(when(col("reused_frac") === 1.0, 1).otherwise(0)),
          avg("reused_frac"), count(lit(1))).head()
      say(s"  cdc delta: full-reuse=${r.getLong(0)} " +
        f"avg_frac=${r.getDouble(1)}%.4f docs=${r.getLong(2)}")
      require(r.getLong(0) >= (n * 2) / 3 - n / 100,
        "unedited docs must reuse every chunk")
    }
    // one daily shard for both stores (1%, at least 1000 docs): half
    // fresh docs over an f-prefixed vocabulary unseen by the index, half
    // verbatim copies of indexed docs
    val m = math.max(n / 100, 1000L)
    val day1 = spark.range(0, m / 2, 1, 8)
      .select((col("id") + 10 * n).as("doc_id"),
        Smoke.soup(col("id"), 13, prefix = "f").as("text"))
      .unionByName(corpus.filter(col("doc_id") < m / 2)
        .select((col("doc_id") + 20 * n).as("doc_id"), col("text")))
    // the store contrast: the delta stage above re-chunks BOTH corpus
    // versions (corpus-sized); the persisted digest store chunks the
    // DAILY SHARD only and probes narrow digest rows — the arrival
    // cost a re-crawl pipeline actually pays
    val cdcRoot = path("cdcstore")
    val cdcStore = time("CDC store build (corpus-sized, once)")(
      CdcStore.build(corpus, "doc_id", "text", cdcRoot, CdcStore.Params(
        family = "gear", maskBits = 5, minLen = 32, maxLen = 256)))
    time("CDC store daily-shard ingest (1%)") {
      cdcStore()
      val full = CdcStore.addShard(spark, cdcRoot, day1, "doc_id", "text",
        "day1").filter(col("reused_frac") === 1.0).count()
      say(s"  cdc store ingest: shard=$m full-reuse=$full")
      require(full >= m / 2, "every verbatim copy must read fully reused")
    }
    // BM25: the batch stage re-tokenizes the WHOLE corpus per retrieval
    // batch; the store tokenizes once at build and each probe reads
    // only the query vocabulary's term buckets — columnar, no text.
    // The in-run require pins batch ≡ store on identical results when
    // the batch stage ran.
    val bmQs = spark.createDataFrame(Seq((1L, "w17 w2345 w999"),
      (2L, "w4999 w0"), (3L, "w123 w456 w789"))).toDF("qid", "qtext")
    def hitSet(df: DataFrame) = df.select(col("qid"), col("id").cast("long"),
        col("rank"), col("score")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    var batchHits = Option.empty[Set[(Long, Long, Int, Double)]]
    time("BM25 batch retrieval (corpus re-scan)") {
      val h = hitSet(TextAnalysis.bm25TopK(corpus, "doc_id", "text",
        bmQs, "qid", "qtext", k = 10).withColumnRenamed("doc_id", "id"))
      say(s"  bm25 batch hits=${h.size}")
      batchHits = Some(h)
    }
    val bmRoot = path("bm25store")
    val bmStore = time("BM25 store build (corpus-sized, once)")(
      Bm25Store.build(corpus, "doc_id", "text", bmRoot,
        Bm25Store.Params(nBuckets = 64)))
    time("BM25 store probe (bucket-pruned, no text)") {
      bmStore()
      val got = hitSet(Bm25Store.topK(spark, bmRoot, bmQs, "qid", "qtext", k = 10))
      require(batchHits.forall(_ == got),
        "store probe must equal the batch re-scan result")
      say(s"  bm25 store hits=${got.size}")
    }
    // decontam-batch probe, WORST-CASE by construction: 200 whole-doc
    // queries over the word-soup's dense 5000-term vocab touch every
    // term bucket, and the scoring join's input is Σ_(q,t) df(t) ≈
    // 200×40×(N/125) rows — the probe's cost ceiling, independent of
    // corpus TEXT (real corpora have power-law vocab and benchmark
    // queries touch rare terms, landing far below this bound; the
    // 3-query stage above shows the pruned typical case). The query
    // stride spreads the 200 docs over the corpus at any n.
    time("BM25 store probe (200-doc decontam batch)") {
      bmStore()
      val dq = corpus.filter(col("doc_id") % math.max(n / 200, 8L) === 7)
        .limit(200).select(col("doc_id").as("qid"), col("text").as("qtext"))
      val n1 = Bm25Store.topK(spark, bmRoot, dq, "qid", "qtext", k = 10)
        .filter(col("rank") === 1 && col("id") === col("qid")).count()
      say(s"  bm25 decontam batch: self-top1=$n1/200")
      require(n1 >= 195,
        "verbatim corpus members must retrieve themselves at rank 1")
    }
    time("BM25 store daily-shard ingest (1%)") {
      bmStore()
      val r = Bm25Store.addShard(spark, bmRoot, day1, "doc_id", "text",
        "day1").head()
      say(s"  bm25 ingest: docs=${r.getAs[Long]("n_docs")} " +
        s"postings=${r.getAs[Long]("n_postings")} " +
        s"new_terms=${r.getAs[Long]("n_new_terms")}")
      // the fresh half draws from 5000 f-prefixed values unseen by the
      // index; the copied half must bring ZERO new vocabulary
      require(r.getAs[Long]("n_new_terms") >= 4500 &&
        r.getAs[Long]("n_new_terms") <= 5000,
        "new vocabulary = the fresh half's f-terms only")
    }
    time("sequence packing (8 shard windows)")(
      Packing.packByBudget(
          corpus.select(col("doc_id"), col("lang"),
            TextAnalysis.tokenCount(col("text")).as("token_cnt")),
          "lang", "doc_id", "token_cnt", 2048)
        .agg(max("pack_id")).head())
    time("vocab top-20 per shard (TopKPerGroup)")(
      TextAnalysis.vocabTopK(corpus, "lang", "text", 20).count())
    // paragraph corpus: two paragraphs per doc (own text + a shifted copy),
    // so ~half of all paragraphs are duplicates — the realistic shape
    time("paragraph dedup (digest-keyed)")(
      Dedup.paragraphDedup(
          corpus.select(col("doc_id"),
            concat_ws("\n\n", col("text"),
              concat(lit("p"), pmod(col("doc_id"), lit(n / 2)).cast("string")))
              .as("text")),
          "doc_id", "text")
        .agg(sum(when(col("kept"), 1).otherwise(0))).head())
    time("content-hash split + mixture (map-only + tiny agg)")(
      Sampling.mixtureByTokenBudget(
          Sampling.contentHashSplit(corpus, "text")
            .withColumn("token_cnt", TextAnalysis.tokenCount(col("text"))),
          "lang", "doc_id", "token_cnt", budget = 1000000L)
        .groupBy(col("split"), col("lang")).count().count())
    time("repetition + langid (map-only)")(
      TextAnalysis.languageId(TextAnalysis.repetitionStats(corpus))
        .agg(avg("repetition"), count(when(col("predicted_lang") =!= "unknown", 1)))
        .head())
    // ~40M-row token join against a 5k-distinct-token frequency table
    time("unigram NLL (token-keyed join)")(
      TextAnalysis.unigramNll(corpus, "doc_id", "text")
        .agg(avg("unigram_nll")).head())
    time("per-shard KL vs corpus distribution")(
      TextAnalysis.sourceTokenKl(corpus, "lang", "text").count())
    time("common-paragraph mining (top-20)")(
      TextAnalysis.commonParagraphs(
        corpus.select(col("doc_id"),
          concat_ws("\n\n", col("text"),
            concat(lit("p"), pmod(col("doc_id"), lit(1000)).cast("string")))
            .as("text")),
        "doc_id", "text", k = 20).count())
    // every 4th doc shares a planted 8-token boilerplate tail -> the
    // frequent set is tiny but the span/count/rebuild passes see all ~40M
    // token positions; r8 op
    time("repeated-span removal (gram-keyed)")(
      Dedup.removeRepeatedSpans(
          corpus.select(col("doc_id"),
            concat(col("text"),
              when(col("doc_id") % 4 === 0,
                lit(" b0 b1 b2 b3 b4 b5 b6 b7")).otherwise(lit("")))
              .as("text")),
          "doc_id", "text", n = 5, minCount = 100)
        .agg(sum("n_removed"), sum(length(col("clean_text")))).head())
    // r9: same workload on the 8-byte xxhash64 key path — the gram
    // strings (the op's dominant shuffle byte mover) never leave the
    // map side; spec pins the two paths result-identical
    time("repeated-span removal (digest-keyed)")(
      Dedup.removeRepeatedSpans(
          corpus.select(col("doc_id"),
            concat(col("text"),
              when(col("doc_id") % 4 === 0,
                lit(" b0 b1 b2 b3 b4 b5 b6 b7")).otherwise(lit("")))
              .as("text")),
          "doc_id", "text", n = 5, minCount = 100, digestKeys = true)
        .agg(sum("n_removed"), sum(length(col("clean_text")))).head())
    // r15: DENSE-removal shape — every doc carries a 40-token shared
    // boilerplate tail, so ~44 of ~80 positions are removed from EVERY
    // row. This is the shape where the rebuild's splice leg dominates:
    // the old filter-HOF spelling paid O(tokens x |rm|) array_contains
    // per row (~3.5k comparisons/doc here); the native TokenSplice
    // merge-walk pays O(tokens + |rm|). Sparse fixtures (above) cannot
    // see the difference — a boilerplate-heavy crawl at 100 TB can.
    time("repeated-span removal (dense boilerplate)")(
      Dedup.removeRepeatedSpans(
          corpus.select(col("doc_id"),
            concat(col("text"), lit(" "),
              concat_ws(" ", (0 until 40).map(i => lit(s"b$i")): _*))
              .as("text")),
          "doc_id", "text", n = 5, minCount = 100, digestKeys = true)
        .agg(sum("n_removed"), sum(length(col("clean_text")))).head())
    // r14: variable-length keep-one dedup — 1% of docs are verbatim
    // clones of their predecessor (the organic-clone shape), so the
    // canonical-protection path sees ~10k clone pairs; digest keys keep
    // the 20-token gram strings off the shuffle
    time("exact-substring dedup (keep-one, digest-keyed)")({
      val src = corpus.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 1).as("doc_id"), col("text").as("__ctext"))
      val cloned = corpus.join(src, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("__ctext"), col("text")).as("text"))
      Dedup.exactSubstrDedup(cloned, "doc_id", "text",
          minLen = 20, digestKeys = true)
        .agg(sum("n_removed"), sum(length(col("clean_text")))).head()
    })
    time("intra-doc line dedup (map-only)")(
      TextAnalysis.dedupLinesWithin(
          corpus.select(col("doc_id"),
            regexp_replace(col("text"), " w", "\nw").as("text")),
          "doc_id", "text")
        .agg(sum("n_removed")).head())
    time("BPE pair counts (vocab-sized 2nd stage)")(
      TextAnalysis.bpePairCounts(corpus, "text", k = 30).count())
    // r8 batch 2: classifier inference is map-only (model rides as a
    // literal); offsets are the two-level scan; rare-gram links get a
    // planted 4-doc group tail so the df window has hits at this scale
    time("hashed linear classifier (map-only)")(
      TextAnalysis.hashedLinearScore(corpus, "doc_id", "text",
          (0 until 1024).map(i => ((i * 37 + 11) % 21 - 10) / 10.0).toArray)
        .agg(sum(when(col("label"), 1).otherwise(0)), avg("score")).head())
    time("global token offsets (two-level scan)")(
      Packing.globalTokenOffsets(
          corpus.withColumn("n_tokens", TextAnalysis.tokenCount(col("text"))),
          "lang", "doc_id", "n_tokens")
        .agg(max(col("offset"))).head())
    time("rare-ngram links (df-capped join)")(
      Dedup.rareNgramPairs(
          corpus.select(col("doc_id"), concat(col("text"),
            lit(" ra"), pmod(col("doc_id"), lit(250000)).cast("string"),
            lit(" rb"), pmod(col("doc_id"), lit(250000)).cast("string"),
            lit(" rc"), pmod(col("doc_id"), lit(250000)).cast("string"),
            lit(" rd"), pmod(col("doc_id"), lit(250000)).cast("string"))
            .as("text")),
          "doc_id", "text", n = 3, maxDf = 8, minShared = 2).count())
    // r8 batch 3: the bigram model's pair-count frame is ~25M distinct
    // pairs here (random synthetic text is the worst case — real corpora
    // collapse far further), so this exercises the persisted-model path
    // at its least favorable shape
    time("bigram-LM NLL (pair-keyed joins)")(
      TextAnalysis.bigramNll(corpus, "doc_id", "text")
        .agg(avg("bigram_nll")).head())
    time("PMI collocations (top-30)")(
      TextAnalysis.pmiCollocations(corpus, "text", minCount = 50, k = 30)
        .count())
    // 4 multi-term queries against the 5k-term vocab: each term's
    // posting list is ~8k docs, the broadcast semi-join keeps ~0.06% of
    // the exploded corpus
    time("BM25 top-10 (4 queries, posting semi-join)")(
      TextAnalysis.bm25TopK(corpus, "doc_id", "text",
          spark.range(0, 4).select(col("id").as("query_id"),
            concat_ws(" ",
              concat(lit("w"), pmod(col("id") * 7 + 1, lit(5000)).cast("string")),
              concat(lit("w"), pmod(col("id") * 13 + 2, lit(5000)).cast("string")),
              concat(lit("w"), pmod(col("id") * 31 + 3, lit(5000)).cast("string")))
              .as("qtext")),
          "query_id", "qtext", k = 10)
        .count())
    time("Zipf profile (vocab agg + top-1000 fit)")(
      TextAnalysis.zipfProfile(corpus, "text", topN = 1000).head())
    // worst case for the sketch: a ~uniform 5k-key domain at capacity 64
    // keeps every partition's buffer churning through compactions
    time("Misra-Gries heavy hitters (cap-64 state)")(
      TextAnalysis.frequentTokens(corpus, "text", capacity = 64, k = 20)
        .count())
    // r9: distinct-n over 1M docs — worst case for the exact distinct
    // (random text barely repeats its bigrams/trigrams)
    time("n-gram diversity (exact distinct, n=1..3)")(
      TextAnalysis.ngramDiversity(corpus, "lang", "text").count())
    // r14: the native GopherGramStats pass at 1M docs — all nine gram
    // widths (top 2..4 + dup 5..10) in one shuffle-free per-row loop;
    // a duplicated-line plant keeps both unit legs non-trivial
    time("Gopher repetition rules (native gram pass)")(
      TextAnalysis.gopherRepetitionRules(
          corpus.select(col("doc_id"),
            concat_ws("\n", col("text"), col("text"),
              concat(lit("u"), col("doc_id").cast("string"))).as("text")),
          "doc_id", "text")
        .agg(sum(when(col("repetition_pass"), 1).otherwise(0)),
          avg("dup_line_frac"), avg("dup_10gram_char_frac")).head())
    // r9 batch 2: the map-only rewrites at 1M docs — FIM, contrastive
    // pairs, script profile, and the span MASK twin of repeated-span
    // removal (same detection stages, mask rebuild instead of splice)
    time("FIM transform (map-only)")(
      TextAnalysis.fimTransform(corpus, "doc_id", "text", fimRate = 0.5)
        .agg(sum(when(col("fim_applied"), 1).otherwise(0)),
          sum(length(col("text_fim")))).head())
    time("contrastive pairs (16-token chunks)")(
      TextAnalysis.contrastivePairs(corpus, "doc_id", "text",
          chunkTokens = 16)
        .agg(count(lit(1)), sum(length(col("anchor")))).head())
    time("script profile (map-only)")(
      TextAnalysis.scriptProfile(corpus, "doc_id", "text")
        .groupBy(col("main_script")).count().count())
    time("repeated-span MASK (digest-keyed)")(
      Dedup.repeatedSpanMask(
          corpus.select(col("doc_id"),
            concat(col("text"),
              when(col("doc_id") % 4 === 0,
                lit(" b0 b1 b2 b3 b4 b5 b6 b7")).otherwise(lit("")))
              .as("text")),
          "doc_id", "text", n = 5, minCount = 100, digestKeys = true)
        .agg(sum("n_masked"), sum(length(col("mask")))).head())
    time("source overlap (hashed keys, 8 sources)")(
      Dedup.sourceOverlap(corpus, "lang", "text", n = 3,
          hashed = true)
        .agg(sum("n_inter"), count(lit(1))).head())
    time("per-source percentile (8 source windows)")(
      Sampling.perSourcePercentile(
          corpus.select(col("doc_id"), col("lang"),
            (xxhash64(col("doc_id")) % 1000).cast("double").as("score")),
          "lang", "score")
        .agg(avg("pct")).head())
    // r9: quality-gate TRAINING (x88) — 3 full-batch GD epochs over the
    // corpus with planted class markers; each epoch is ONE corpus-sized
    // explode+aggregate with the 1024-bucket model riding as a literal.
    // Word-soup docs are ~40 tokens so per-bucket counts stay small and
    // lr=0.5 is well-conditioned (the x88 fixture scaladoc's argument).
    time("logreg training (3 epochs, 1024 buckets)") {
      val labeled = corpus.select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 2 === 0,
          lit(" qpos qpos qpos qpos")).otherwise(lit(" qneg qneg qneg qneg")))
          .as("text"),
        (col("doc_id") % 2 === 0).cast("int").as("y"))
      val m = TextAnalysis.trainHashedLogReg(labeled, "text", "y",
        buckets = 1024, epochs = 3, lr = 0.5, useBigrams = false)
      say(f"  losses=${m.losses.map(l => f"$l%.4f").mkString(" -> ")}")
    }
    // r10: chat-turn parse — each doc serialized as a 3-turn transcript
    // (multi-line assistant answer), split + ONE doc-keyed window + one
    // regroup over ~4M line rows
    time("chat-turn parse (1M transcripts)")(
      TextAnalysis.chatLossMask(TextAnalysis.chatTurns(
          corpus.select(col("doc_id"), concat(
            lit("user: "), col("text"), lit("\nassistant: "), col("text"),
            lit("\ncontinued line"), lit("\nsystem: done")).as("text")),
          "doc_id", "text"))
        .agg(count(lit(1)), sum(when(col("train_mask"),
          col("n_tokens")).otherwise(0L))).head())
    // r10: Bloom decontamination screen — map-only membership of every
    // doc's shingle hashes against a 500-doc benchmark filter
    time("bloom screen (map-only, 500-doc benchmark)") {
      val bloom = TextAnalysis.benchmarkBloom(
        corpus.filter(col("doc_id") % 2000 === 17).select(col("text")),
        "text")
      TextAnalysis.screenWithBloom(corpus, "text", bloom)
        .agg(sum(when(col("maybe_contaminated"), 1L).otherwise(0L))).head()
    }
    // r10: exact-k and exact-budget deterministic samples per shard
    time("exact-k sample (10k per shard, heap operator)")(
      Sampling.exactKPerGroup(
          corpus.select(col("doc_id"), col("lang")),
          "lang", "doc_id", k = 10000)
        .groupBy(col("lang")).count().count())
    time("budget-prefix sample (1M tokens per shard)")(
      Sampling.budgetPrefixPerGroup(
          corpus.select(col("doc_id"), col("lang"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("tok")),
          "lang", "doc_id", "tok", budget = 1000000L)
        .agg(sum(when(col("kept"), col("tok")).otherwise(0L))).head())
    // r10: char entropy is one codegen'd per-row loop; DSIR = two
    // distribution aggregates then a MAP-ONLY scoring scan; stupid
    // backoff joins doc trigrams against the model count tables (run at
    // a 100k slice — the corpus is its own model here, which is the
    // worst case: every trigram type survives into the join)
    time("char entropy (map-only, full corpus)")(
      TextAnalysis.charEntropyProfile(corpus, "doc_id", "text")
        .agg(avg("char_entropy"), sum(when(col("low_entropy"), 1)
          .otherwise(0))).head())
    time("DSIR importance (1024 buckets, lang0 target)")(
      TextAnalysis.dsirImportance(corpus,
          corpus.filter(col("lang") === "lang0"), "text",
          buckets = 1024)
        .agg(avg("log_weight"), max("log_weight")).head())
    val sb100k = corpus.filter(col("doc_id") < 100000)
    time("stupid-backoff NLL (100k docs, self-model)")(
      TextAnalysis.stupidBackoffNll(sb100k, sb100k, "doc_id", "text")
        .agg(avg("sb_nll"), sum("n_trigrams")).head())
    // r11: blocklist reference chain vs the Aho-Corasick scale path.
    // The reference formulation is O(terms) per doc AND O(terms) plan
    // nodes — it stops COMPILING (Column-tree stack overflow) near 2.5k
    // phrase terms, so it runs here at its workable size while the
    // automaton runs at both that size and a production-shaped 20k-term
    // list (where only O(len + matches) per doc remains). ~1 in 50 docs
    // carries a planted hit so the match legs execute.
    val blkCorpus = corpus.select(col("doc_id"),
      concat(col("text"), when(col("doc_id") % 50 === 0,
        lit(" bk17 tail")).otherwise(lit(""))).as("text"))
    val terms500 = (0 until 250).map(i => s"bk$i") ++
      (0 until 250).map(i => s"bk$i tail")
    val terms20k = (0 until 10000).map(i => s"bk$i") ++
      (0 until 10000).map(i => s"bk$i tail")
    time("blocklist reference chain (500 terms)")(
      TextAnalysis.blocklistFilter(blkCorpus, "text", terms500)
        .agg(sum(when(col("blocked"), 1L).otherwise(0L)),
          sum("n_blocked_tokens")).head())
    time("blocklist Aho-Corasick (500 terms)")(
      TextAnalysis.blocklistFilterScaled(blkCorpus, "text", terms500)
        .agg(sum(when(col("blocked"), 1L).otherwise(0L)),
          sum("n_blocked_tokens")).head())
    time("blocklist Aho-Corasick (20k terms)")(
      TextAnalysis.blocklistFilterScaled(blkCorpus, "text", terms20k)
        .agg(sum(when(col("blocked"), 1L).otherwise(0L)),
          sum("n_blocked_tokens")).head())
    // r12: the three new per-row natives. Winnowing fingerprints the
    // full corpus map-only (forced through a fp aggregate so nothing
    // prunes); ROUGE-L pays the O(n*m) DP per row (40x16 tokens here —
    // the per-cell cost is the thing to watch, hence full corpus);
    // dHash + banded near-dup runs the hash map-only then joins only
    // narrow (id, long) rows
    time("winnow fingerprints (native, full corpus)")(
      Dedup.winnowFingerprints(corpus, "doc_id", "text")
        .agg(count(lit(1)), expr("bit_xor(fp)")).head())
    val rougeFix = corpus.select(col("doc_id"), col("text").as("cand"),
      concat_ws(" ", (0 until 16).map { p =>
        concat(lit("w"), pmod(xxhash64(lit(7), col("doc_id"), lit(39 - p)),
          lit(5000)).cast("string"))
      }: _*).as("ref"))
    time("ROUGE-L (40x16 DP per row, full corpus)")(
      TextAnalysis.rougeL(rougeFix, "cand", "ref")
        .agg(avg("rouge_f"), sum("lcs")).head())
    val media = corpus.select(col("doc_id").as("media_id"),
      encode(concat(col("text"), when(col("doc_id") % 100 === 0,
        lit("!")).otherwise(lit(""))), "UTF-8").as("payload"))
    time("dHash56 (native, full corpus)")(
      Multimodal.dHash(media)
        .agg(count(lit(1)), expr("bit_xor(dhash)")).head())
  }
}
