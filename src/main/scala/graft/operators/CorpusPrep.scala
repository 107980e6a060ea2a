package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Corpus-preparation operators for an LLM training-data pipeline:
  * repetition-based quality signals, rarity-weighted term extraction,
  * and token-budget sequence packing.
  *
  * Everything stays on codegen'd built-ins and quantizes ratios to
  * parts-per-million integers (see [[Determinism]]) so results
  * hash-match the DuckDB oracle exactly.
  */
object CorpusPrep {

  /** Gopher-style repetition signals per document (Rae et al. 2021 §A1.1
    * use duplicate-line and duplicate-n-gram fractions as quality
    * filters; with single-line synthetic docs the token and bigram forms
    * carry the same signal):
    *
    *  - `top_tok_ppm`     — occurrences of the most frequent token / n_tokens
    *  - `top_bigram_ppm`  — occurrences of the most frequent bigram / n_bigrams
    *  - `distinct_ppm`    — distinct tokens / n_tokens (type-token ratio)
    *
    * Plan: tokens and bigrams are concatenated into ONE exploded
    * relation tagged by kind, so the whole operator is a single
    * explode → two-level aggregation — two shuffles, map-side combine on
    * both, no self-join. At 100 TB the (doc_id, kind, v) key is near-
    * unique per document so partial aggregation collapses almost
    * everything before the exchange.
    */
  def repetitionProfile(spark: SparkSession, dir: String): DataFrame =
    repetitionProfileFor(Tables.documents(spark, dir))

  def repetitionProfileFor(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val both = docs
      .withColumn("toks", TextOps.tokens(col("text")))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        // kind 't' = each token; kind 'b' = each adjacent bigram
        "concat(" +
          "transform(toks, t -> struct('t' AS kind, t AS v)), " +
          "transform(sequence(1, size(toks) - 1), " +
          "i -> struct('b' AS kind, concat_ws(' ', element_at(toks, i), " +
          "element_at(toks, i + 1)) AS v)))")).as("e"))
      // shuffle a fixed-width 60-bit hash of the term, not the string
      // itself (same trick as the shingle family; collisions ~n²/2⁶¹ and
      // identical on both engines, so counts — and the oracle — agree)
      .select(col("doc_id"), col("e.kind").as("kind"),
        expr(s"${graft.functions.GraftFunctions.Md5PrefixName}(e.v, 15)").as("v"))
    both
      .groupBy(col("doc_id"), col("kind"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("kind") === "t", col("cnt"))).as("n_tokens"),
        max(when(col("kind") === "t", col("cnt"))).as("top_tok"),
        sum(when(col("kind") === "t", 1L)).as("n_distinct"),
        sum(when(col("kind") === "b", col("cnt"))).as("n_bigrams"),
        max(when(col("kind") === "b", col("cnt"))).as("top_bigram"))
      .select(col("doc_id"), col("n_tokens"),
        expr("top_tok * 1000000 DIV n_tokens").as("top_tok_ppm"),
        expr("top_bigram * 1000000 DIV n_bigrams").as("top_bigram_ppm"),
        expr("n_distinct * 1000000 DIV n_tokens").as("distinct_ppm"))
  }

  /** Gopher-gate pass counts for [[gopherGates]] — each document is run
    * through five Rae-et-al.-style quality gates; thresholds are in
    * exact ppm so the gate booleans hash-compare.
    */
  val GateStopWords = Seq("the", "a", "of", "and", "is", "to", "in")

  /** Gopher-style quality gate scorecard (q100) — the rule-based filter
    * a production corpus actually ships (Rae et al. 2021 §A1.1): each
    * document passes 0–5 independent gates (token count in range, mean
    * token length sane, stopword ratio in the natural-language band, no
    * dominant token, type-token ratio floor), rolled up per (lang,
    * n_passed) with document and token mass — the table that decides
    * where the keep/drop cut lands. Every gate is an exact integer
    * comparison; the repetition signals reuse [[repetitionProfileFor]]'s
    * pipeline and the join is doc-keyed.
    */
  def gopherGates(spark: SparkSession, dir: String): DataFrame = {
    val stopList = GateStopWords.map(w => s"'$w'").mkString(",")
    val base = Tables.documents(spark, dir)
      .withColumn("toks", TextOps.tokens(col("text")))
      .filter(size(col("toks")) >= 2)
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("char_total",
        length(regexp_replace(col("text"), "\\s", "")).cast("long"))
      .withColumn("mlen_ppm", expr("char_total * 1000000 DIV n_tok"))
      .withColumn("n_stop",
        expr(s"size(filter(toks, t -> t IN ($stopList)))").cast("long"))
      .withColumn("stop_ppm", expr("n_stop * 1000000 DIV n_tok"))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        col("mlen_ppm"), col("stop_ppm"))
    val rep = repetitionProfile(spark, dir)
      .select(col("doc_id"), col("top_tok_ppm"), col("distinct_ppm"))
    base.join(rep, Seq("doc_id"))
      .withColumn("n_passed",
        expr("""CAST(CASE WHEN n_tok BETWEEN 30 AND 100000 THEN 1 ELSE 0 END
               |   + CASE WHEN mlen_ppm BETWEEN 3000000 AND 5000000 THEN 1 ELSE 0 END
               |   + CASE WHEN stop_ppm BETWEEN 50000 AND 400000 THEN 1 ELSE 0 END
               |   + CASE WHEN top_tok_ppm <= 120000 THEN 1 ELSE 0 END
               |   + CASE WHEN distinct_ppm >= 450000 THEN 1 ELSE 0 END AS BIGINT)""".stripMargin))
      .groupBy(col("lang"), col("n_passed"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_total"))
  }

  /** Per-source adaptive quality floor (q171) — the CCNet-style
    * per-domain cut: a single global quality threshold over-prunes
    * whole domains whose score distribution sits low (code, tables)
    * and under-prunes ones that sit high, so production pipelines
    * threshold each source at a QUANTILE of its own distribution.
    * Here the score is the stopword ratio in ppm (the natural-language
    * signal from the q100 gate family) and the floor is the exact
    * per-source 25th percentile — rank 1 + (n−1) DIV 4 under the
    * deterministic (score, doc_id) order — with value-rule keeps
    * (score ≥ floor), reported as per-source keep/drop mass.
    *
    * Scale: one shuffle+sort per source partition for the rank (the
    * exact-quantile twin of the GK-sketch thresholds q77/q80 certify;
    * at 100 TB the sketch supplies the floor and this exact form is
    * its per-source certification, the q55/q135 posture), then a
    * broadcast of the source-count-bounded floor relation and one
    * partial-aggregated rollup. No row-level output.
    */
  def adaptiveQualityFloor(spark: SparkSession, dir: String): DataFrame =
    adaptiveQualityFloorFor(Tables.documents(spark, dir))

  def adaptiveQualityFloorFor(docs: DataFrame): DataFrame = {
    val stopList = GateStopWords.map(w => s"'$w'").mkString(",")
    val scored = docs
      // split('') yields [''] — an empty doc would otherwise score as a
      // perfect-quality 1-token doc and drag its source's floor to 0
      .filter(trim(col("text")) =!= "")
      .withColumn("toks", TextOps.tokens(col("text")))
      .filter(size(col("toks")) >= 1)
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("n_stop",
        expr(s"size(filter(toks, t -> t IN ($stopList)))").cast("long"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        expr("n_stop * 1000000 DIV n_tok").as("score_ppm"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score_ppm"), col("doc_id"))
    val ranked = scored
      .withColumn("rn", row_number().over(w))
      .withColumn("n_src",
        count(lit(1)).over(Window.partitionBy(col("source"))))
    val floor = ranked
      .filter(col("rn") === expr("1 + (n_src - 1) DIV 4"))
      .select(col("source"), col("score_ppm").as("thr_ppm"))
    scored.join(broadcast(floor), Seq("source"))
      .groupBy(col("source"), col("thr_ppm"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score_ppm") >= col("thr_ppm"), 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(col("score_ppm") >= col("thr_ppm"), col("n_tok"))
          .otherwise(0L)).as("tok_kept"),
        sum(col("n_tok")).as("tok_total"))
      .select(col("source"), col("n_docs"), col("thr_ppm"),
        col("n_kept"), col("tok_kept"), col("tok_total"))
  }

  /** Rarity-weighted top terms per document — the tf-idf shape with the
    * idf's corpus-size constant dropped (it cannot change the ranking):
    * score = tf · 10⁶ / df, top 3 terms per document, ties broken
    * alphabetically.
    *
    * Plan: explode → tf aggregation on (doc_id, token); df via a count
    * window over the token partition (reuses the aggregated relation, no
    * second scan or join); top-k via row_number over the doc partition.
    * Three shuffles, each on a high-cardinality key — the standard
    * scalable shape for corpus term weighting.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    tfidfTopTermsFor(Tables.documents(spark, dir), k)

  def tfidfTopTermsFor(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val withDf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy(col("token"))))
    val ranked = withDf
      .withColumn("score_ppm", expr("tf * 1000000 DIV df"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("score_ppm").desc, col("token").asc)))
      .filter(col("rank") <= k)
    ranked.select(col("doc_id"), col("rank").cast("long").as("rank"),
      col("token"), col("score_ppm"))
  }

  /** Chunk size / stride (tokens) for [[docChunks]]. Stride < size →
    * consecutive chunks overlap by `ChunkSize - ChunkStride` tokens.
    */
  val ChunkSize = 128
  val ChunkStride = 96

  /** Overlapping fixed-size token windows per document — the
    * retrieval/context-prep chunking stage: chunk j covers tokens
    * [j·stride, j·stride + size), chunks start while j·stride < n, the
    * last chunk may be short. Emitted as (doc_id, chunk_id, token
    * count, md5 of the chunk text) so the result is compact and
    * hash-matchable; a writer variant would carry the token slice
    * itself.
    *
    * Plan: one array-lambda projection + explode — zero shuffles, pure
    * map-side work that scales with scan parallelism.
    */
  def docChunks(spark: SparkSession, dir: String): DataFrame =
    docChunksFor(Tables.documents(spark, dir))

  def docChunksFor(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= 1)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, (n - 1) DIV $ChunkStride), " +
          s"j -> struct(CAST(j AS BIGINT) AS chunk_id, " +
          s"slice(toks, j * $ChunkStride + 1, $ChunkSize) AS c))")).as("e"))
      .select(col("doc_id"), col("e.chunk_id").as("chunk_id"),
        size(col("e.c")).cast("long").as("n_ctoks"),
        md5(concat_ws(" ", col("e.c"))).as("chunk_md5"))

  /** Tokens per packed training sequence. */
  val PackBudget = 512L

  /** Token-budget sequence packing (concat-and-chunk): documents are
    * concatenated in doc_id order within each source shard and cut into
    * fixed [[PackBudget]]-token sequences; each document reports the
    * sequence it starts in, the sequence it ends in, and its token
    * offset in the first one — exactly the map a training-data writer
    * needs to emit packed sequences without materializing them.
    *
    * Plan: one running-sum window per source partition. Packing is
    * embarrassingly parallel across shards (a source never crosses a
    * bin), which is how a 100 TB corpus packs on 1000 executors — the
    * only sequential dependency is within one shard's window, and AQE
    * splits skewed shards' sort spills, not the window semantics.
    */
  def sequencePacking(spark: SparkSession, dir: String): DataFrame =
    sequencePackingFor(Tables.documents(spark, dir))

  def sequencePackingFor(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr(s"cum_before DIV $PackBudget").as("start_seq"),
        expr(s"(cum_before + n_tokens - 1) DIV $PackBudget").as("end_seq"),
        expr(s"cum_before % $PackBudget").as("start_offset"))
  }

  /** Minimum bigram occurrences for [[collocations]]. */
  val CollocMinSupport = 5L

  /** q166: collocation mining — corpus bigram statistics with an
    * integer PMI-style lift: how much more often do two tokens occur
    * ADJACENTLY than their frequencies predict. The contract is the
    * two-step floor-div `lift = ((n_ab·10⁶) div n_a · T) div n_b`
    * (≈ 10⁶ · p(ab)/(p(a)p(b))): one step would overflow a long at
    * trillion-token corpora, and the two-step form is the deterministic
    * fixed-point both engines replay. Collocations feed tokenizer
    * vocabulary induction (the counting half of a BPE/WordPiece merge
    * step) and phrase-aware quality signals.
    *
    * Scale: one explode pass for bigram counts, one for unigram counts
    * — both aggregations are VOCABULARY-bounded (vocab² worst case for
    * bigrams, the observed-adjacency subset in practice), so the join
    * and lift arithmetic run at vocabulary scale regardless of corpus
    * rows. Min-support keeps noise bigrams out of the graded relation.
    */
  def collocations(spark: SparkSession, dir: String): DataFrame =
    collocationsFor(Tables.documents(spark, dir))

  def collocationsFor(docs: DataFrame): DataFrame = {
    val toks = docs.select(TextOps.tokens(col("text")).as("toks"))
    val uni = toks.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val total = uni.agg(sum(col("n")).as("t_tokens"))
    val bi = toks
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b))"))
        .as("p"))
      .groupBy(col("p.a").as("tok_a"), col("p.b").as("tok_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= CollocMinSupport)
    bi
      .join(broadcast(uni.withColumnRenamed("tok", "tok_a")
        .withColumnRenamed("n", "n_a")), Seq("tok_a"))
      .join(broadcast(uni.withColumnRenamed("tok", "tok_b")
        .withColumnRenamed("n", "n_b")), Seq("tok_b"))
      .crossJoin(broadcast(total))
      .select(col("tok_a"), col("tok_b"), col("n_ab"), col("n_a"), col("n_b"),
        expr("(n_ab * 1000000 DIV n_a) * t_tokens DIV n_b").as("lift_ppm"))
  }

  /** Number of BPE merge rounds the graded query (q174) unrolls; the
    * oracle replays each round as an explicit CTE chain, so this stays
    * small and pinned.
    */
  val BpeSteps = 3

  /** Exact greedy BPE merge training (q174) — the merge half of the
    * tokenizer-training story (q166's collocations are the counting
    * half). Sennrich et al. 2016: repeatedly take the most frequent
    * adjacent symbol pair and fuse every greedy-leftmost occurrence.
    * The classic scale trick makes this 100 TB-viable: ONE corpus pass
    * aggregates to the distinct-word relation (vocabulary-bounded —
    * megabytes when the corpus is terabytes), and every merge round
    * runs over word-partitioned symbol rows of THAT relation, weighted
    * by word count. Greedy-leftmost overlap resolution (aaa + merge
    * (a,a) → [aa, a], never [a, aa]) is exact relational algebra, not
    * iteration: within each maximal run of consecutive marked
    * positions, winners sit at even offsets from the run start — a
    * running-count run id plus a per-run min(pos), three window passes
    * over the same word partitioning (one exchange, reused sorts).
    *
    * Output: one row per merge round — the chosen pair (count ties
    * break lexicographically), its weighted occurrence count (overlap
    * included, the Sennrich statistic), and the corpus token mass
    * after the fuse — the compression trajectory a tokenizer build
    * monitors.
    */
  def bpeTrainMerges(spark: SparkSession, dir: String): DataFrame =
    bpeTrainMergesFor(Tables.documents(spark, dir))

  /** The vocab-bounded distinct-word relation with corpus counts. */
  private def wordRelation(docs: DataFrame): DataFrame = docs
    .select(explode(TextOps.tokens(col("text"))).as("word"))
    .filter(col("word") =!= "")
    .groupBy(col("word")).agg(count(lit(1)).as("w_cnt"))

  /** Character-level symbol rows (word, w_cnt, pos, sym). */
  private def initialSymbols(words: DataFrame): DataFrame = words
    .select(col("word"), col("w_cnt"),
      posexplode(expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))")))
    .select(col("word"), col("w_cnt"),
      (col("pos") + 1).cast("long").as("pos"), col("col").as("sym"))

  def bpeTrainMergesFor(docs: DataFrame, steps: Int = BpeSteps): DataFrame = {
    var syms = initialSymbols(wordRelation(docs))
    val statRows = (1 to steps).map { step =>
      val (rebuilt, stats) = bpeMergeStep(syms, step)
      syms = rebuilt
      stats
    }
    statRows.reduce(_.unionByName(_))
  }

  /** BPE encode (q177) — the APPLY half of q174's training: after
    * `steps` greedy merges the segmentation of every distinct word is
    * already materialized in the symbol relation, so encoding the
    * corpus is a vocabulary join, not a per-document scan of the merge
    * table: per-word BPE lengths attach to the exploded corpus words
    * and roll up per document. Output per doc: whitespace word count
    * and the BPE token count at the merge checkpoint — the statistic
    * that prices a tokenizer change against a token budget (q50's
    * regex tokenizer is the fixed-vocab twin).
    *
    * Scale: the merge rounds are vocab-bounded (q174's flat-rehearsal
    * argument); the corpus side is one explode + one join keyed on the
    * word — left un-hinted so AQE broadcasts the vocab while it fits
    * and falls back to a keyed shuffle join at extreme vocabularies —
    * plus one doc-keyed rollup.
    */
  def bpeEncodeCounts(spark: SparkSession, dir: String): DataFrame =
    bpeEncodeCountsFor(Tables.documents(spark, dir))

  def bpeEncodeCountsFor(docs: DataFrame, steps: Int = BpeSteps): DataFrame = {
    var syms = initialSymbols(wordRelation(docs))
    for (step <- 1 to steps) syms = bpeMergeStep(syms, step)._1
    val wordLens = syms.groupBy(col("word"))
      .agg(count(lit(1)).as("n_bpe"))
    docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .join(wordLens, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_bpe")).as("n_bpe_tokens"))
  }

  /** Tokenizer fertility audit (q188) — the per-LANGUAGE evaluation of
    * the q174 tokenizer that q177 prices per document: fertility
    * (BPE tokens per whitespace word) and compression (characters per
    * BPE token), both exact ppm. This is the statistic that decides
    * whether a tokenizer underserves a language — high fertility on
    * one language means its texts consume disproportionate sequence
    * length and effectively less training signal per token budget.
    *
    * Scale: identical posture to q177 — merge rounds stay on the
    * vocab-bounded word relation; the corpus side is one explode +
    * one word-keyed join; the rollup is language-bounded. Ratio
    * numerators are DECIMAL(38)-widened (char·10⁶ overflows a long
    * past ~10¹³ corpus chars).
    */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame =
    bpeFertilityFor(Tables.documents(spark, dir))

  def bpeFertilityFor(docs: DataFrame, steps: Int = BpeSteps): DataFrame = {
    var syms = initialSymbols(wordRelation(docs))
    for (step <- 1 to steps) syms = bpeMergeStep(syms, step)._1
    val wordLens = syms.groupBy(col("word"))
      .agg(count(lit(1)).as("n_bpe"))
    docs
      .select(col("lang"), explode(TextOps.tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .join(wordLens, Seq("word"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_bpe")).as("n_bpe_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_bpe_tokens"), col("n_chars"),
        expr("CAST(CAST(n_bpe_tokens AS DECIMAL(38,0)) * 1000000 " +
          "DIV n_words AS BIGINT)").as("fertility_ppm"),
        expr("CAST(CAST(n_chars AS DECIMAL(38,0)) * 1000000 " +
          "DIV n_bpe_tokens AS BIGINT)").as("compression_ppm"))
  }

  /** One greedy merge round: (rebuilt symbol rows, 1-row stats).
    *
    * Each round MATERIALIZES its outputs (`localCheckpoint`, the
    * q154/q178 lineage discipline): the round's plan references the
    * previous round's symbol relation through TWO consumers (the top-
    * pair aggregate under a broadcast and the marked rebuild), so a
    * lazy chain doubles both the Catalyst tree and the recompute per
    * round — 2^steps pipeline evaluations, and a TimeLab `jobs`
    * profile (r17) showed q174's warm pass spending 2.4 s of 3.07 s in
    * DRIVER gaps (planning the doubled tree) with only 0.65 s of
    * executed jobs. The checkpointed relations are vocab-bounded
    * (megabytes at a terabyte corpus) and `top` is one row, so the
    * materialization is cheap at any scale and bounds lineage for
    * arbitrary `steps` (the lazy chain's plans are kept in
    * `plans/r17/q174_bpe_merges_before.txt`).
    */
  private def bpeMergeStep(syms: DataFrame, step: Int): (DataFrame, DataFrame) = {
    val wWord = Window.partitionBy("word").orderBy("pos")
    val withNext = syms.withColumn("nxt", lead(col("sym"), 1).over(wWord))
    val top = withNext.filter(col("nxt").isNotNull)
      .groupBy(col("sym").as("a"), col("nxt").as("b"))
      .agg(sum(col("w_cnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
      .localCheckpoint()
    val marked = withNext.crossJoin(broadcast(top))
      .withColumn("marked",
        when(col("sym") === col("a") && col("nxt") === col("b"), 1L)
          .otherwise(0L))
    // run start of a marked row = one past the last UNMARKED position
    // before it (runs are maximal, so that position exists or the run
    // starts the word) — a running max over the SAME word partitioning
    // as every other window here, where the previous (word, grp,
    // marked) min(pos) window forced an extra exchange+sort per round
    val active = marked
      .withColumn("run_start",
        coalesce(max(when(col("marked") === 0L, col("pos"))).over(
          wWord.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
          lit(0L)) + 1L)
      .withColumn("active",
        when(col("marked") === 1L &&
          (col("pos") - col("run_start")) % 2 === 0, 1L).otherwise(0L))
      .withColumn("prev_active",
        coalesce(lag(col("active"), 1).over(wWord), lit(0L)))
    val rebuilt = active
      .filter(col("prev_active") === 0L)
      .select(col("word"), col("w_cnt"), col("pos").as("opos"),
        when(col("active") === 1L, concat(col("sym"), col("nxt")))
          .otherwise(col("sym")).as("sym"))
      .withColumn("pos", row_number().over(
        Window.partitionBy("word").orderBy("opos")).cast("long"))
      .drop("opos")
      .localCheckpoint()
    val stats = top.crossJoin(
      broadcast(rebuilt.agg(sum(col("w_cnt")).as("n_symbols_after"))))
      .select(lit(step.toLong).as("step"), col("a").as("sym_a"),
        col("b").as("sym_b"), col("cnt").as("pair_cnt"),
        col("n_symbols_after"))
    (rebuilt, stats)
  }

  /** Short-document threshold for the q221 card's `short_ppm` column. */
  val CardShortChars = 100L

  /** Per-source dataset card (q221) — the release artifact every
    * public corpus ships (C4, The Pile, Dolma all publish one): for
    * each source, the composition and hygiene numbers a consumer reads
    * before training — volume (docs, characters), language spread,
    * length shape (mean chars, short-doc share), and the exact-dup
    * rate (share of docs whose normalized fingerprint collides with
    * another doc of the SAME source — the q35 fingerprint law).
    *
    * Scale: two keyed aggregation pipelines over the corpus (direct
    * per-source stats; fingerprint groups → per-source dup mass)
    * joined on the source key — source cardinality is catalog-sized,
    * so the join broadcasts; no windows, no corpus-sized state.
    */
  def datasetCard(spark: SparkSession, dir: String): DataFrame =
    datasetCardFor(Tables.documents(spark, dir))

  def datasetCardFor(docs: DataFrame): DataFrame = {
    val base = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("chars_sum"),
        sum(when(col("n_chars") < CardShortChars, 1L).otherwise(0L))
          .as("n_short"))
    val dups = docs
      .select(col("source"), TextOps.fingerprint(col("text")).as("fp"))
      .groupBy(col("source"), col("fp")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(sum(when(col("cnt") > 1L, col("cnt")).otherwise(0L))
        .as("n_dup_docs"))
    base.join(broadcast(dups), Seq("source"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        col("chars_sum"),
        expr("chars_sum DIV n_docs").as("mean_chars"),
        expr("n_short * 1000000 DIV n_docs").as("short_ppm"),
        col("n_dup_docs"),
        expr("n_dup_docs * 1000000 DIV n_docs").as("dup_ppm"))
  }

  /** Minimum adjacency count for a TextRank co-occurrence edge. */
  val TextrankMinW = 2L

  /** Keywords emitted by [[textrankKeywords]]. */
  val TextrankTopK = 25

  /** q223: TextRank keyword extraction (Mihalcea & Tarau 2004) — the
    * damped random walk over the word co-occurrence graph whose fixed
    * point ranks corpus keywords; the composition of the text family's
    * counting posture (q166's adjacency relation) with the graph
    * family's converge-on-values engine ([[GraphOps.pagerank]], the
    * exact-integer q154 contract).
    *
    * Graph: nodes are lowercased tokens, an undirected edge joins two
    * DISTINCT tokens adjacent in some document, weighted by adjacency
    * count and kept only at [[TextrankMinW]] support (self-loops add
    * rank mass an undirected walk never earns — dropped). Node ids are
    * 48-bit md5 prefixes of the token (the q155 ordering hash), so the
    * walk runs on longs and the token strings ride a vocabulary-sized
    * broadcast joined back only at the end.
    *
    * Scale: the corpus-sized explode collapses immediately to the
    * vocabulary-bounded adjacency relation (the q166 law — megabytes
    * when the corpus is terabytes), and every PageRank iteration runs
    * over THAT relation, inheriting q154's size-guarded broadcast /
    * merge-join dual plan. Output is the top-[[TextrankTopK]] keywords
    * (rank_q desc, token asc — deterministic under ties).
    */
  def textrankKeywords(spark: SparkSession, dir: String): DataFrame =
    textrankKeywordsFor(Tables.documents(spark, dir))

  def textrankKeywordsFor(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val fp = graft.functions.GraftFunctions.Md5PrefixName
    val toks = docs.select(TextOps.tokens(lower(col("text"))).as("toks"))
    val adj = toks.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b))"))
        .as("p"))
      .filter(col("p.a") =!= col("p.b"))
      .select(least(col("p.a"), col("p.b")).as("u"),
        greatest(col("p.a"), col("p.b")).as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= TextrankMinW)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = adj.select(explode(array(
        struct(expr(s"$fp(u, 12)").as("src"), expr(s"$fp(v, 12)").as("dst"),
          col("w")),
        struct(expr(s"$fp(v, 12)").as("src"), expr(s"$fp(u, 12)").as("dst"),
          col("w")))).as("e"))
      .select(col("e.src"), col("e.dst"), col("e.w"))
    val vocab = adj.select(col("u").as("tok"))
      .union(adj.select(col("v").as("tok"))).distinct()
      .select(col("tok"), expr(s"$fp(tok, 12)").as("node"))
    // pagerank(materialize = true) runs the edge pipeline, warming the
    // adj cache the vocab join then reads; materialize the top-k before
    // releasing it (25 rows — localCheckpoint is a no-op-sized copy)
    val ranked = GraphOps.pagerank(edges)
      .join(broadcast(vocab), Seq("node"))
      .orderBy(col("rank_q").desc, col("tok").asc)
      .limit(TextrankTopK)
      .select(col("tok"), col("rank_q"),
        row_number().over(
          Window.orderBy(col("rank_q").desc, col("tok").asc)).as("kw_rank"))
      .localCheckpoint()
    adj.unpersist()
    ranked
  }
}
