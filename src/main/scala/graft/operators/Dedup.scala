package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Near-duplicate detection family for training-data curation: n-gram
  * Jaccard (blocked), MinHash signatures + banded LSH candidate pairs,
  * and SimHash. All hashes derive from `md5` so signatures are
  * deterministic and portable across engines — no JVM `hashCode`, no
  * engine-specific `hash()`.
  *
  * Scale design: every stage is explode → hash-shuffle → aggregate with
  * map-side combine; candidate generation groups rows by a (block/band,
  * key) bucket and emits pairs inside each bucket, never a quadratic
  * cross join. Every bucket is size-bounded BEFORE any per-bucket state
  * is built (window row_number, sort-based, spills to disk), so one
  * corpus-frequent shingle or one giant band bucket cannot blow up a
  * 100 TB run quadratically:
  *
  *  - n-gram Jaccard drops shingles whose document frequency exceeds
  *    [[DfCap]] (an ultra-common shingle carries no dedup signal);
  *  - LSH band buckets and IVF embedding buckets keep their [[BandCap]] /
  *    [[EmbBucketCap]] smallest ids (deterministic truncation; members of
  *    a truncated bucket still pair through their other bands / remain a
  *    connected near-dup cluster through the kept members).
  */
object Dedup {

  /** Shingles with document frequency above this are dropped from the
    * Jaccard intersection (denominator `n_sh` stays the full count).
    */
  val DfCap = 50

  /** Max documents kept per LSH band bucket (smallest doc_ids win). */
  val BandCap = 64

  /** Max vectors compared per IVF bucket (smallest vec_ids win). */
  val EmbBucketCap = 2048

  /** Cosine threshold (ppm) above which an embedding pair counts as a
    * near-duplicate — shared by q51/q52's generators and the q138
    * leakage oracle so the definition of "near-dup pair" cannot drift.
    */
  val EmbNearDupPpm = 400000L

  /** Distinct k-token shingle ARRAY per document (k=3, 1-based indexing so
    * the same expression is portable to the oracle dialect), with the
    * shingle count alongside — so downstream pair joins can carry `n_sh`
    * through the explode instead of re-joining a separate counts relation.
    */
  def docShingles(df: DataFrame, k: Int = 3): DataFrame =
    df.withColumn("toks", TextOps.tokens(col("text")))
      .filter(size(col("toks")) >= k)
      .withColumn("sh_arr", array_distinct(expr(
        s"transform(sequence(1, size(toks) - ${k - 1}), " +
          (1 to k).map(j => s"element_at(toks, i + ${j - 1})")
            .mkString("i -> concat_ws(' ', ", ", ", "))"))))
      .select(col("doc_id"), col("source"),
        col("sh_arr"), size(col("sh_arr")).cast("long").as("n_sh"))

  /** Exploded shingle rows (compatibility view of [[docShingles]]).
    *
    * `explode_outer`, deliberately: plain `explode` makes the optimizer
    * infer a `size(sh_arr) > 0 AND isnotnull(sh_arr)` filter and push it
    * below the shingle projection with the alias INLINED — whereupon the
    * `element_at(split(text), i)` lambda re-runs the regex tokenizer once
    * per array ELEMENT (~50× per document, measured 6 s of 7 at sf0.1).
    * The outer variant infers no filter, and `sh_arr` is provably
    * non-empty under the `size(toks) >= k` guard, so the output is
    * identical.
    */
  def shingles(df: DataFrame, k: Int = 3): DataFrame =
    docShingles(df, k)
      .select(col("doc_id"), col("source"), explode_outer(col("sh_arr")).as("sh"))

  /** 60-bit md5-derived hash of the shingle text: bucket keys shuffle and
    * compare fixed-width longs instead of multi-token strings. Collisions
    * (~n²/2⁶¹) are identical on both engines, so the oracle still matches.
    * Computed by the native [[graft.functions.Md5PrefixLong]] — same
    * value as the oracle's `conv(substr(md5(sh), 1, 15), 16, 10)`, minus
    * the hex-string round-trip on the hottest scalar in the engine.
    */
  private val shash: Column =
    expr(s"${graft.functions.GraftFunctions.Md5PrefixName}(sh, 15)")

  /** The ONE hashed-shingle relation every shingle-based operator derives
    * from: (doc_id, source, n_sh, shash). md5 runs exactly once per
    * (document, distinct shingle), inside the same codegen stage as the
    * explode; MinHash re-derives its 48-bit base hash from the top bits of
    * `shash` instead of re-hashing.
    */
  def hashedShingles(df: DataFrame, k: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    docShingles(df, k)
      .select(col("doc_id"), col("source"), col("n_sh"),
        explode_outer(col("sh_arr")).as("sh")) // outer: see [[shingles]]
      .select(col("doc_id"), col("source"), col("n_sh"), shash.as("shash"))
  }

  /** Pairwise n-gram Jaccard similarity within `source` blocks, as
    * bucket-local pair emission: explode hashed shingles → bound each
    * (source, shash) bucket to [[DfCap]]+1 rows with a sort-spilling
    * window → collect the (small) per-bucket doc list → emit each
    * bucket's pairs with an array lambda → count intersections per pair →
    * Jaccard in exact ppm, J ≥ 0.3.
    *
    * One scan, two effective shuffles (bucket key, then pair key) — the
    * self-join formulation needed the same scan twice plus a join. The
    * rn ≤ cap+1 pre-truncation means a bucket never materializes more
    * than cap+1 rows of state, and `size ≤ cap` then drops any bucket
    * that overflowed — i.e. shingles with df > [[DfCap]] are discarded
    * with bounded memory, the standard guard against the quadratic
    * blowup a corpus-frequent shingle causes at 100 TB.
    */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairsFor(Tables.documents(spark, dir))

  /** Shared pair-intersection pipeline for the shingle-overlap family:
    * (doc_a, doc_b, n_a, n_b, inter) for every within-source pair sharing
    * at least one kept shingle, via bucket-local pair emission (see
    * [[ngramJaccardPairs]] for the plan rationale and the df-cap guard).
    */
  def shingleIntersections(docs: DataFrame, dfCap: Int = DfCap): DataFrame = {
    val hs = hashedShingles(docs)
    val w = Window.partitionBy(col("source"), col("shash")).orderBy(col("doc_id"))
    val buckets = hs
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= dfCap + 1)
      .groupBy(col("source"), col("shash"))
      .agg(collect_list(struct(col("doc_id"), col("n_sh"))).as("docs"))
      .filter(size(col("docs")).between(2, dfCap))
    buckets
      .select(explode(expr(
        "flatten(transform(docs, a -> " +
          "transform(filter(docs, b -> b.doc_id > a.doc_id), " +
          "b -> struct(a.doc_id AS doc_a, b.doc_id AS doc_b, " +
          "a.n_sh AS n_a, b.n_sh AS n_b))))")).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.n_a").as("n_a"), col("p.n_b").as("n_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("inter"))
  }

  def ngramJaccardPairsFor(docs: DataFrame, dfCap: Int = DfCap): DataFrame =
    shingleIntersections(docs, dfCap)
      .withColumn("jaccard_ppm", expr("inter * 1000000 DIV (n_a + n_b - inter)"))
      .filter(col("jaccard_ppm") >= 300000)
      .select(col("doc_a"), col("doc_b"), col("jaccard_ppm"))

  /** Asymmetric shingle containment (Broder): C(a→b) = |A∩B| / |A|.
    * Catches the subset near-dups symmetric Jaccard misses — a page
    * embedded in a larger page, a doc plus boilerplate — the second
    * standard dedup signal on web corpora. A pair is reported when
    * EITHER direction's containment clears the threshold; both
    * directions are returned in exact ppm so the caller can tell which
    * side is the fragment. Same scale story as [[ngramJaccardPairs]]:
    * bucket-local pair emission, df-capped, no join.
    */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    containmentPairsFor(Tables.documents(spark, dir))

  def containmentPairsFor(docs: DataFrame, dfCap: Int = DfCap): DataFrame =
    shingleIntersections(docs, dfCap)
      .withColumn("cont_a_ppm", expr("inter * 1000000 DIV n_a"))
      .withColumn("cont_b_ppm", expr("inter * 1000000 DIV n_b"))
      .filter(greatest(col("cont_a_ppm"), col("cont_b_ppm")) >= 500000)
      .select(col("doc_a"), col("doc_b"), col("cont_a_ppm"), col("cont_b_ppm"))

  val MinhashK = 8

  /** Affine-permutation constants: mh_i = (A_i·h + B_i) mod 2³². A_i < 2¹⁴
    * keeps A·h < 2⁶² for the 48-bit base hash (no ANSI overflow); shared
    * with the oracle SQL so both engines compute identical signatures.
    */
  val MinhashA: Seq[Long] = Seq(12289L, 12323L, 12373L, 12413L, 12437L, 12451L, 12479L, 12487L)
  val MinhashB: Seq[Long] = (0 until MinhashK).map(i => 1000003L * i + 12345L)

  private def mh(i: Int): Column =
    expr(s"(${MinhashA(i)} * h + ${MinhashB(i)}) % 4294967296")

  /** MinHash signatures: K=8 permutations, each the min over the
    * document's shingle set of an affine transform of one shared
    * md5-derived hash. One explode + one groupBy with 8 partial-aggregated
    * mins — a single shuffle, a single md5 per shingle. The 48-bit base
    * hash is the top 12 hex digits of [[hashedShingles]]' 60-bit key
    * (integer-divide by 16³), so no second hash pass.
    */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    minhashSignaturesFor(Tables.documents(spark, dir))

  def minhashSignaturesFor(docs: DataFrame): DataFrame =
    hashedShingles(docs)
      .select(col("doc_id"), expr("shash DIV 4096").as("h"))
      .groupBy(col("doc_id"))
      .agg(
        min(mh(0)).as("mh0"), min(mh(1)).as("mh1"),
        min(mh(2)).as("mh2"), min(mh(3)).as("mh3"),
        min(mh(4)).as("mh4"), min(mh(5)).as("mh5"),
        min(mh(6)).as("mh6"), min(mh(7)).as("mh7"))

  /** Banded LSH over the MinHash signatures: 4 bands × 2 rows. Candidate
    * pairs are documents sharing ≥1 band key, generated by bucket-local
    * pair emission (shuffle by band key, bound each bucket to [[BandCap]]
    * members via a sort-spilling window, emit pairs inside the bucket) —
    * the 100 TB path: no self-join, no unbounded bucket, k²/2 pair
    * blowup from a popular bucket capped at BandCap²/2. Band keys stay
    * as two long columns — no string concat in the shuffle key.
    */
  def lshCandidatePairs(spark: SparkSession, dir: String): DataFrame =
    lshCandidatePairsFor(Tables.documents(spark, dir))

  /** (doc_id, band, k1, k2) band-key rows for every document — the LSH
    * bucket relation, exposed for [[lshCandidatePairsFor]] and the
    * scale-rehearsal cap diagnostics. One pass over the signatures:
    * explode band structs instead of a 4-way union (which would
    * recompute the signature aggregation once per band).
    */
  def lshBandKeys(docs: DataFrame): DataFrame =
    bandKeysOfSig(minhashSignaturesFor(docs))

  private def bandKeysOfSig(sig: DataFrame): DataFrame = {
    val bandStructs = array((0 until MinhashK / 2).map { bandIdx =>
      struct(
        lit(bandIdx).as("band"),
        col(s"mh${2 * bandIdx}").as("k1"),
        col(s"mh${2 * bandIdx + 1}").as("k2"))
    }: _*)
    sig
      .select(col("doc_id"), explode(bandStructs).as("b"))
      .select(col("doc_id"), col("b.band").as("band"),
        col("b.k1").as("k1"), col("b.k2").as("k2"))
  }

  def lshCandidatePairsFor(docs: DataFrame, bandCap: Int = BandCap): DataFrame =
    bandPairs(lshBandKeys(docs), bandCap)

  /** Capped band-bucket pair emission over ANY banded-signature relation
    * `(doc_id, band, k1, k2)` — the one LSH candidate generator, shared
    * by the MinHash bands (q39/q70) and the PQ-code bands (q88). Shuffle
    * by band key, bound each bucket to `bandCap` members BEFORE any
    * state is built (sort-spilling window), emit pairs bucket-locally,
    * count shared bands per pair. Never a self-join, never an unbounded
    * bucket.
    */
  def bandPairs(bands: DataFrame, bandCap: Int = BandCap): DataFrame = {
    val w = Window.partitionBy(col("band"), col("k1"), col("k2")).orderBy(col("doc_id"))
    bands
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= bandCap)
      .groupBy(col("band"), col("k1"), col("k2"))
      .agg(collect_list(col("doc_id")).as("docs"))
      .filter(size(col("docs")) >= 2)
      .select(explode(expr(
        "flatten(transform(docs, a -> transform(filter(docs, b -> b > a), " +
          "b -> struct(a AS doc_a, b AS doc_b))))")).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Normalized-text prefix length for [[lshEditVerify]]'s edit-distance
    * pass. Levenshtein is O(len²) per pair; bounding both sides to a
    * fixed prefix bounds per-pair verification cost at any document
    * length — the standard budget for a DP-based verifier in a
    * candidate-verify pipeline.
    */
  val EditVerifyPrefix = 256

  /** Edit-similarity floor (ppm of the longer prefix) above which a
    * verified candidate pair is confirmed a near-duplicate.
    */
  val EditDupPpm = 600000L

  /** Edit-distance verification of the LSH candidates (q145) — the
    * VERIFY stage of the candidate-verify near-dup pipeline: MinHash
    * banding (q39) proposes, and an exact bounded Levenshtein over the
    * normalized text prefixes confirms or rejects each pair. LSH alone
    * admits false positives (band collisions); shipping a dedup decision
    * off a raw candidate is how unrelated documents get merged, so
    * production pipelines always re-check candidates with a direct
    * similarity — this operator is that check, with similarity
    * `sim_ppm = (maxlen − lev) · 10⁶ / maxlen` and verdict at
    * [[EditDupPpm]].
    *
    * Scale shape: the expensive O(prefix²) DP runs ONLY on the
    * band-capped candidate set — never all pairs — and each candidate
    * costs a bounded [[EditVerifyPrefix]]² regardless of document
    * length. The pair list BROADCASTS into the two corpus text lookups
    * (the q136 posture: the corpus is scanned, never shuffled, for a
    * pair-list join); a deployment whose candidate set outgrows the
    * broadcast budget drops the two hints and pays keyed shuffles
    * instead — the verification cost model is unchanged.
    */
  def lshEditVerify(spark: SparkSession, dir: String): DataFrame = {
    val pairs = lshCandidatePairs(spark, dir)
    val norm = Tables.documents(spark, dir)
      .select(col("doc_id"),
        substring(lower(regexp_replace(trim(col("text")), "\\s+", " ")),
          1, EditVerifyPrefix).as("t"))
    norm.select(col("doc_id").as("doc_b"), col("t").as("t_b"))
      .join(broadcast(
        norm.select(col("doc_id").as("doc_a"), col("t").as("t_a"))
          .join(broadcast(pairs), Seq("doc_a"))), Seq("doc_b"))
      .withColumn("lev", levenshtein(col("t_a"), col("t_b")).cast("long"))
      .withColumn("len_max",
        greatest(length(col("t_a")), length(col("t_b")), lit(1)).cast("long"))
      .withColumn("sim_ppm", expr("(len_max - lev) * 1000000 DIV len_max"))
      .select(col("doc_a"), col("doc_b"), col("n_bands"), col("lev"),
        col("sim_ppm"), (col("sim_ppm") >= EditDupPpm).as("is_dup"))
  }

  /** Incremental near-dup screen (q89) — the LSH complement of q61's
    * exact incremental dedup: which documents of an incoming batch (the
    * ≥ 0.9 hash split, a fresh crawl) NEAR-duplicate the existing corpus
    * (the < 0.8 split). Candidate pairs form only across the two sides
    * of a shared band bucket — corpus×corpus and batch×batch pairs are
    * never emitted, which is what makes the incremental shape cheap: the
    * recurring cost of a crawl refresh is (batch bands) against an
    * already-banded corpus, not a full-corpus re-pairing.
    *
    * One scan (both splits filter the same read), one signature
    * aggregation, then [[bandPairs]]'s discipline with a per-SIDE cap:
    * each bucket holds ≤ [[BandCap]] corpus rows and ≤ [[BandCap]] batch
    * rows before any state is built, so pair emission is bounded by
    * BandCap² per bucket regardless of skew.
    */
  def incrementalLshPairs(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val b = Sampling.hashBucket("doc_id")
    val both = Tables.documents(spark, dir)
      .filter(b < 800000L || b >= 900000L)
    // side re-derived per signature row (one md5 per doc, not per shingle)
    val bands = bandKeysOfSig(minhashSignaturesFor(both))
      .withColumn("side",
        when(Sampling.hashBucket("doc_id") < 800000L, lit(0)).otherwise(lit(1)))
    // ONE window partitioning, shared with the groupBy below (keying the
    // window by (bucket, side) added a fourth shuffle): corpus rows sort
    // first, so side-0 rank is `rn` and side-1 rank is `rn − n_corpus`
    val w = Window.partitionBy(col("band"), col("k1"), col("k2"))
      .orderBy(col("side"), col("doc_id"))
    val wAll = Window.partitionBy(col("band"), col("k1"), col("k2"))
    bands
      .withColumn("rn", row_number().over(w))
      .withColumn("n0", sum(when(col("side") === 0, 1L).otherwise(0L)).over(wAll))
      .filter(
        (col("side") === 0 && col("rn") <= BandCap) ||
          (col("side") === 1 && col("rn") - col("n0") <= BandCap))
      .groupBy(col("band"), col("k1"), col("k2"))
      .agg(
        collect_list(when(col("side") === 0, col("doc_id"))).as("corpus_docs"),
        collect_list(when(col("side") === 1, col("doc_id"))).as("batch_docs"))
      .filter(size(col("corpus_docs")) >= 1 && size(col("batch_docs")) >= 1)
      .select(explode(expr(
        "flatten(transform(corpus_docs, a -> transform(batch_docs, " +
          "b -> struct(a AS corpus_doc, b AS batch_doc))))")).as("p"))
      .select(col("p.corpus_doc").as("corpus_doc"), col("p.batch_doc").as("batch_doc"))
      .groupBy(col("corpus_doc"), col("batch_doc"))
      .agg(count(lit(1)).as("n_bands"))
  }


  /** q231: crawl novelty report — per source, how much genuinely NEW
    * shingle mass an incoming batch (the q89 ≥ 0.9 md5 split) adds
    * over the standing corpus (the < 0.8 split): batch docs, distinct
    * batch shingles, the share of them unseen in the same source's
    * corpus (exact ppm), and the corpus size for context. This is the
    * keep-crawling signal a data-acquisition loop reads — a source
    * whose novelty_ppm decays toward its dup floor has been exhausted,
    * and the crawler's budget (q79's mix weights, q94's token budget)
    * should move elsewhere.
    *
    * Scale: one shingle pass to two DISTINCT (source, shash) relations
    * (the q37 shuffle class), one keyed anti-join batch→corpus, then
    * source-bounded aggregates. No pairwise anything.
    */
  def crawlNovelty(spark: SparkSession, dir: String): DataFrame =
    crawlNoveltyFor(Tables.documents(spark, dir))

  def crawlNoveltyFor(docs: DataFrame): DataFrame = {
    val b = Sampling.hashBucket("doc_id")
    val hs = hashedShingles(docs.filter(b < 800000L || b >= 900000L))
      .filter(col("shash").isNotNull)
      .withColumn("side",
        when(Sampling.hashBucket("doc_id") < 800000L, lit(0)).otherwise(lit(1)))
    val corpus = hs.filter(col("side") === 0)
      .select(col("source"), col("shash")).distinct()
    val batch = hs.filter(col("side") === 1)
      .select(col("source"), col("shash")).distinct()
    val novel = batch.join(corpus, Seq("source", "shash"), "left_anti")
      .groupBy(col("source")).agg(count(lit(1)).as("n_novel"))
    val bs = batch.groupBy(col("source"))
      .agg(count(lit(1)).as("n_batch_shingles"))
    val cs = corpus.groupBy(col("source"))
      .agg(count(lit(1)).as("n_corpus_shingles"))
    val bd = docs.filter(b >= 900000L)
      .groupBy(col("source")).agg(count(lit(1)).as("n_batch_docs"))
    // corpus side joined LEFT OUTER from the batch side: a source present
    // only in the incoming batch (a brand-new source — maximal novelty,
    // exactly the keep-crawling signal this report exists to surface) must
    // appear with n_corpus_shingles = 0, not be silently dropped
    bs.join(broadcast(bd), Seq("source"))
      .join(broadcast(cs), Seq("source"), "left_outer")
      .join(broadcast(novel), Seq("source"), "left_outer")
      .na.fill(0L, Seq("n_corpus_shingles", "n_novel"))
      .select(col("source"), col("n_batch_docs"), col("n_batch_shingles"),
        col("n_corpus_shingles"), col("n_novel"),
        expr("n_novel * 1000000 DIV n_batch_shingles").as("novelty_ppm"))
  }

  /** Embedding-cosine near-duplicates, exact: all vector pairs with
    * quantized cosine ≥ 0.40 (the semantic-dedup baseline). Quadratic in
    * the table — correct reference for the bucketed variant below; keep
    * it OFF any default pipeline path.
    */
  def embeddingNearDupExact(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val dot = graft.functions.GraftFunctions.DotName
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        expr(s"$dot(embedding, embedding)").as("nq"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("nq").as("n_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("nq").as("n_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos_ppm",
        Similarity.cosPpm(s"$dot(emb_a, emb_b)", "n_a", "n_b"))
      .filter(col("cos_ppm") >= EmbNearDupPpm)
      .select(col("id_a"), col("id_b"), col("cos_ppm"))
  }

  /** Embedding-cosine near-duplicates, bucketed (the scale path): pairs
    * only form inside an IVF bucket, turning the quadratic compare into
    * per-bucket work after one shuffle on the bucket id. Near-identical
    * vectors share a nearest centroid, so recall on true near-dups is
    * high; verified a superset of exact same-bucket dups in tests.
    * Buckets are bounded to [[EmbBucketCap]] members (smallest vec_ids,
    * deterministic) so a degenerate centroid that attracts a huge slice
    * of the corpus cannot go quadratic.
    */
  def embeddingNearDupBucketed(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // assignment is a projection of the corpus itself (map-only argmax
    // over the centroid literals) — no corpus-to-assignment self-join
    embeddingNearDupBucketedFor(Similarity.assignedEmbeddings(spark, dir))
  }

  /** Core of the bucketed near-dup compare over (bucket, vec_id,
    * embedding) rows; requires [[graft.functions.GraftFunctions]]
    * registered on the session.
    */
  def embeddingNearDupBucketedFor(assigned: DataFrame,
      bucketCap: Int = EmbBucketCap): DataFrame = {
    val dot = graft.functions.GraftFunctions.DotName
    val w = Window.partitionBy(col("bucket")).orderBy(col("vec_id"))
    val e = assigned
      .select(col("bucket"), col("vec_id"), col("embedding"),
        expr(s"$dot(embedding, embedding)").as("nq"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= bucketCap)
    val a = e.select(col("bucket"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("nq").as("n_a"))
    val b = e.select(col("bucket"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("nq").as("n_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_ppm",
        Similarity.cosPpm(s"$dot(emb_a, emb_b)", "n_a", "n_b"))
      .filter(col("cos_ppm") >= EmbNearDupPpm)
      .select(col("id_a"), col("id_b"), col("cos_ppm"))
  }

  /** SemDeDup-style cluster-scoped semantic dedup (q172) — the
    * embedding twin of the lexical pairs→survivors path (q39→q91):
    * Abbas et al. 2023 cluster the corpus embeddings with k-means and
    * drop, within each cluster, all but one member of every
    * high-cosine group. Here the clusters are the IVF buckets the
    * index already maintains (one assignment, two consumers — search
    * and dedup), the pair generator is [[embeddingNearDupBucketedFor]]
    * (capped, never all-pairs), and the keep rule is deterministic
    * keep-first: a vector is dropped when ANY smaller-id vector in its
    * bucket clears the cosine threshold — one distinct projection of
    * the pair relation, no iteration. Output is the per-bucket
    * curation ledger: members, dropped, kept, and the kept-id sum as
    * the cross-engine checksum of WHICH vectors survived.
    *
    * Scale: assignment is the map-only argmax projection; pairs are
    * per-bucket capped; the drop set joins back vec_id-keyed. Nothing
    * here exceeds the q52 pair generator's cost envelope.
    */
  def semanticDedupLedger(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val assigned = Similarity.assignedEmbeddings(spark, dir)
    val dropped = embeddingNearDupBucketedFor(assigned)
      .select(col("id_b").as("vec_id")).distinct()
      .withColumn("is_dup", lit(1L))
    assigned
      .join(dropped, Seq("vec_id"), "left_outer")
      .na.fill(0L, Seq("is_dup"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("is_dup")).as("n_dropped"),
        sum(lit(1L) - col("is_dup")).as("n_kept"),
        sum(when(col("is_dup") === 0L, col("vec_id")).otherwise(0L))
          .as("kept_id_sum"))
  }

  /** Sketch-accuracy audit for the MinHash family: for every LSH
    * candidate pair, the signature-estimated Jaccard (matching positions
    * / K, in ppm) side by side with the exact Jaccard over the two
    * documents' FULL distinct-shingle sets (deliberately uncapped,
    * unlike q37's df-capped bucket pipeline — the audit must compare
    * against ground truth, and both this and the oracle compute the
    * uncapped value) — the measurement that justifies trusting the K=8
    * sketch before pointing it at 100 TB (and the one to re-run when
    * tuning K or the banding). Candidates with no shared shingle report
    * exact 0.
    *
    * Plan: the candidate pair list is tiny relative to the corpus, so
    * every join broadcasts it; the exact side intersects the two
    * documents' distinct-shingle ARRAYS directly (LSH candidates cross
    * source blocks, so the source-blocked bucket pipeline would
    * under-report them; per-pair array intersection is exact and costs
    * O(pairs × doc length), bounded by the candidate count).
    */
  def minhashAccuracy(spark: SparkSession, dir: String): DataFrame =
    minhashAccuracyFor(Tables.documents(spark, dir))

  def minhashAccuracyFor(docs: DataFrame): DataFrame = {
    val pairs = lshCandidatePairsFor(docs).select(col("doc_a"), col("doc_b"))
    val sig = minhashSignaturesFor(docs)
    val a = sig.toDF("doc_a" +: (0 until MinhashK).map(i => s"a$i"): _*)
    val b = sig.toDF("doc_b" +: (0 until MinhashK).map(i => s"b$i"): _*)
    val matches = (0 until MinhashK)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val sh = docShingles(docs).select(col("doc_id"), col("sh_arr"), col("n_sh"))
    pairs
      .join(a, "doc_a").join(b, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (matches * lit(1000000L / MinhashK)).as("est_ppm"))
      .join(sh.toDF("doc_a", "sh_a", "n_a"), "doc_a")
      .join(sh.toDF("doc_b", "sh_b", "n_b"), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .select(col("doc_a"), col("doc_b"), col("est_ppm"),
        expr("inter * 1000000 DIV (n_a + n_b - inter)").as("exact_ppm"))
  }

  /** Connected components over a near-dup candidate pair graph — the
    * step that turns PAIRS into dedup CLUSTERS: each document is labeled
    * with the smallest doc_id reachable through any chain of candidate
    * pairs (so `component` is also the keep-first survivor id for the
    * whole cluster).
    *
    * Algorithm: hash-min label propagation — every iteration each vertex
    * takes the min of its own and its neighbors' labels, as one join +
    * one partial-aggregated groupBy, with `localCheckpoint` truncating
    * the lineage between rounds. Converges in O(cluster diameter)
    * iterations; near-dup clusters are shallow (stars around a canonical
    * document), so 3-4 rounds in practice. For adversarially long chain
    * graphs at 100 TB, swap the per-round step for large-star/small-star
    * (Kiveris et al. 2014) — same join-aggregate shape, O(log n) rounds;
    * the driver loop and convergence check here carry over unchanged.
    * Convergence probe: labels only ever DECREASE under min-propagation,
    * so the round converged iff Σlabel is unchanged — one tiny aggregate
    * per round instead of a join-based diff.
    *
    * Checkpointing: `checkpointDir = None` (tests, single-JVM) truncates
    * lineage with `localCheckpoint` — executor-local blocks, fast but
    * lost with the executor. On a real cluster pass a reliable dir
    * (HDFS/S3): blocks survive executor loss mid-closure, which over a
    * multi-round iterative job at 1000 executors is a certainty to plan
    * for, not a tail risk.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
      checkpointDir: Option[String] = None): DataFrame = {
    val chk = checkpointer(pairs.sparkSession, checkpointDir)
    val edges = chk(pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
      // materialized: the pair pipeline must not rerun per round
    // seed with the best single-hop label (≤ own id by construction) —
    // same cost as a plain distinct, one fewer propagation round
    var labels = chk(edges
      .select(col("src").as("doc"), least(col("src"), col("dst")).as("label"))
      .groupBy(col("doc")).agg(min(col("label")).as("label")))
    var prevSig = Long.MinValue
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val viaNeighbor = edges.withColumnRenamed("dst", "doc")
        .join(labels, "doc")
        .select(col("src").as("doc"), col("label"))
      val next = chk(labels.select(col("doc"), col("label")).union(viaNeighbor)
        .groupBy(col("doc")).agg(min(col("label")).as("label")))
      val sig = next.agg(coalesce(sum(col("label")), lit(0L))).first().getLong(0)
      converged = sig == prevSig
      prevSig = sig
      labels = next
      iter += 1
    }
    // A cluster whose diameter exceeds maxIter leaves labels one hop
    // short of the true minimum. The labels are still a valid (finer)
    // clustering — every labeled group IS connected — so return them
    // best-effort with a warning rather than aborting the dedup job
    // after the iteration budget is already spent. At adversarial scale
    // the fix is the large-star/small-star variant (O(log n) rounds),
    // not a bigger budget.
    if (!converged) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents did not converge in $maxIter rounds; " +
          "returning best-effort labels (groups are connected but long " +
          "chains may be split across components)")
    }
    labels.select(col("doc").as("doc_id"), col("label").as("component"))
  }

  /** Lineage truncation strategy for the iterative closures: local
    * checkpoint by default (single-JVM tests/bench), reliable
    * `checkpoint()` into `dir` when one is given (cluster runs).
    */
  private[operators] def checkpointer(spark: SparkSession,
      dir: Option[String]): DataFrame => DataFrame = dir match {
    case Some(d) =>
      spark.sparkContext.setCheckpointDir(d)
      df => df.checkpoint()
    case None => df => df.localCheckpoint()
  }

  /** [[connectedComponents]] over the LSH candidate pairs (q39): the
    * standard minhash-LSH dedup endgame — signatures → banded candidate
    * pairs → clusters with a canonical survivor per cluster.
    */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(lshCandidatePairs(spark, dir))

  /** B-cubed cluster-quality eval (q222) — the STANDARD clustering
    * metric (Bagga & Baldwin 1998; the dedup-eval choice in entity
    * resolution because, unlike pairwise F1, it weights every DOCUMENT
    * equally instead of quadratically favoring big clusters): the LSH
    * dedup clustering ([[dedupComponents]], singletons = their own
    * cluster) is scored against the exact-fingerprint truth (the q35
    * law). Per doc, precision = |C(d) ∩ T(d)| / |C(d)| and recall =
    * |C(d) ∩ T(d)| / |T(d)|; the corpus score is the doc-average, in
    * exact ppm (per-cell quantization, identical on both engines).
    * This is the gate a pipeline runs before TRUSTING a banded
    * candidate generator's clusters enough to delete documents.
    *
    * Scale: every |C ∩ T| is a (cluster, truth) CELL size — one keyed
    * aggregation of the label relation; per-doc ratios then collapse
    * per cell (each cell contributes n_ct identical per-doc terms), so
    * the whole metric is three keyed aggregations over label-sized
    * relations — no pairwise expansion anywhere.
    */
  def clusterEval(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val truth = docs.select(col("doc_id"),
      graft.operators.TextOps.fingerprint(col("text")).as("fp"))
    val clusters = dedupComponents(spark, dir)
    val labeled = truth
      .join(clusters, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("fp"),
        coalesce(col("component"), col("doc_id")).as("cluster"))
    bcubed(labeled)
  }

  /** The B-cubed algebra over a (doc_id, fp, cluster) label relation —
    * separated so the spec can pin the cell arithmetic on hand labels
    * and other clusterings (media bands, semantic dedup) can reuse it.
    */
  def bcubed(labeled: DataFrame): DataFrame = {
    val cSize = labeled.groupBy(col("cluster")).agg(count(lit(1)).as("n_c"))
    val tSize = labeled.groupBy(col("fp")).agg(count(lit(1)).as("n_t"))
    val cells = labeled.groupBy(col("cluster"), col("fp"))
      .agg(count(lit(1)).as("n_ct"))
    cells
      .join(cSize, Seq("cluster"))
      .join(tSize, Seq("fp"))
      .agg(sum(col("n_ct")).as("n_docs"),
        sum(expr("n_ct * (n_ct * 1000000 DIV n_c)")).as("p_mass"),
        sum(expr("n_ct * (n_ct * 1000000 DIV n_t)")).as("r_mass"))
      .select(col("n_docs"),
        expr("p_mass DIV n_docs").as("b3_precision_ppm"),
        expr("r_mass DIV n_docs").as("b3_recall_ppm"),
        expr("CASE WHEN p_mass + r_mass = 0 THEN 0 ELSE " +
          "2 * (p_mass DIV n_docs) * (r_mass DIV n_docs) DIV " +
          "(p_mass DIV n_docs + r_mass DIV n_docs) END").as("b3_f1_ppm"))
  }

  /** Canonical-survivor selection per near-dup cluster (q91) — the step
    * a production dedup actually ships: [[dedupComponents]]' clusters
    * reduced to one kept document each, with the removed mass accounted
    * for. The survivor rule is the classic one (keep the longest member;
    * ties to the smallest doc_id) — near-dup clusters are usually a
    * superset document plus its fragments, so length keeps the superset.
    * `dropped_chars` is the corpus mass the dedup deletes — the number a
    * curation report leads with.
    *
    * Plan: cluster labels are a tiny relation next to the corpus (only
    * docs that appeared in a candidate pair), so the join against
    * `documents` shuffles cluster rows, never amplifies the corpus; the
    * per-cluster window is bounded by the same caps that bound the pair
    * generation upstream.
    */
  def dedupSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val members = dedupComponents(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")),
        Seq("doc_id"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("component"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)))
    members.groupBy(col("component"))
      .agg(
        max(when(col("rk") === 1, col("doc_id"))).as("survivor_id"),
        max(when(col("rk") === 1, col("n_chars"))).cast("long").as("survivor_chars"),
        count(lit(1)).as("n_members"),
        sum(when(col("rk") > 1, col("n_chars")).otherwise(lit(0L)))
          .cast("long").as("dropped_chars"))
  }

  /** Cross-source near-duplicate matrix (q104) — provenance analysis
    * for a multi-crawl corpus: for every (source, source) pair, how many
    * LSH near-dup candidate pairs ([[lshCandidatePairs]]) connect them.
    * The table that answers "which crawls copy each other" (mirror
    * detection, ingest-order dedup priority); the diagonal measures
    * internal duplication per crawl. Pair normalization (least/greatest
    * of the two sources) makes the matrix orientation-free.
    *
    * Plan: the capped pair list broadcasts into two scans of `documents`
    * for its source labels (q93's shape — the corpus is never shuffled),
    * then one tiny (source × source) aggregation.
    */
  def crossSourceDupMatrix(spark: SparkSession, dir: String): DataFrame = {
    val pairs = lshCandidatePairs(spark, dir).select(col("doc_a"), col("doc_b"))
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val withA = src
      .select(col("doc_id").as("doc_a"), col("source").as("src_a"))
      .join(broadcast(pairs), Seq("doc_a"))
    src
      .select(col("doc_id").as("doc_b"), col("source").as("src_b"))
      .join(broadcast(withA), Seq("doc_b"))
      .groupBy(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .agg(count(lit(1)).as("n_dup_pairs"))
  }

  /** Near-dup split-leakage matrix (q136) — the audit run before any
    * training job ships its splits: exact dedup keeps hash splits
    * disjoint by construction, but a NEAR-duplicate of a test document
    * sitting in train leaks evaluation signal anyway (the
    * memorization-vs-generalization confound exact dedup can't see).
    * Count every LSH candidate pair ([[lshCandidatePairs]]) by the
    * (split, split) cell it lands in — the off-diagonal cells are the
    * leaks, and a curation pass quarantines the train-side member of
    * each.
    *
    * Plan: q104's provenance-matrix shape — the capped pair list
    * broadcasts into two scans of the corpus for split labels
    * (re-derived from the md5 bucket, not stored); the corpus never
    * shuffles, and the matrix is at most a handful of rows at any
    * corpus size.
    */
  def splitLeakageMatrix(spark: SparkSession, dir: String): DataFrame =
    pairSplitMatrix(
      lshCandidatePairs(spark, dir).select(col("doc_a"), col("doc_b")),
      Sampling.split(Tables.documents(spark, dir), "doc_id")
        .select(col("doc_id").as("id"), col("split")),
      "doc_a", "doc_b")

  /** Semantic twin of [[splitLeakageMatrix]] (q138): the same leakage
    * matrix over EMBEDDING-space near-dup pairs (q52's capped
    * IVF-bucketed cosine generator). Lexical LSH misses a paraphrase
    * whose shingles all changed; the embedding pair generator is the
    * detector for exactly that class, so a split audit needs both
    * matrices before a training run ships.
    */
  def semanticSplitLeakageMatrix(spark: SparkSession, dir: String): DataFrame =
    pairSplitMatrix(
      embeddingNearDupBucketed(spark, dir).select(col("id_a"), col("id_b")),
      Sampling.split(Tables.embeddings(spark, dir), "vec_id")
        .select(col("vec_id").as("id"), col("split")),
      "id_a", "id_b")

  /** The shared (pair, split) rollup: label both pair ends from the
    * split relation (pairs broadcast into two label scans — the corpus
    * never shuffles), then the orientation-free (split, split) matrix.
    */
  private def pairSplitMatrix(pairs: DataFrame, splits: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val withA = splits
      .select(col("id").as(aCol), col("split").as("split_a"))
      .join(broadcast(pairs), Seq(aCol))
    splits
      .select(col("id").as(bCol), col("split").as("split_b"))
      .join(broadcast(withA), Seq(bCol))
      .groupBy(least(col("split_a"), col("split_b")).as("split_lo"),
        greatest(col("split_a"), col("split_b")).as("split_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leak", col("split_lo") =!= col("split_hi"))
  }

  /** LSH recall audit (q96) — [[Similarity.annRecallAudit]]'s pattern
    * applied to the dedup family: how many of the exact n-gram-Jaccard
    * near-dup pairs ([[ngramJaccardPairs]], the ground truth the banded
    * index approximates) the LSH candidate generator
    * ([[lshCandidatePairs]]) actually surfaces, bucketed by similarity
    * band. LSH recall rises with similarity (a band match needs 2
    * consecutive minhashes equal), so the per-band curve — not one
    * global number — is what tunes the bands/rows trade; a banding
    * change that hollows out the 0.3-0.5 band fails the round.
    *
    * Both pair sets are cap-bounded and tiny against the corpus; the
    * candidate side broadcasts into the truth side. Exact integers
    * throughout — the audit hash-compares.
    */
  def lshRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    val truth = ngramJaccardPairs(spark, dir)
    val cand = lshCandidatePairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
    truth.join(broadcast(cand), Seq("doc_a", "doc_b"), "left_outer")
      .withColumn("band", expr("jaccard_ppm DIV 100000"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_ppm", expr("n_hit * 1000000 DIV n_true"))
  }

  /** Exact-Jaccard threshold defining a TRUE near-dup pair for the
    * q228 operating-point sweep.
    */
  val SweepTruthJPpm = 500000L

  /** q228: the LSH operating-point sweep — precision / recall / F1 (in
    * exact ppm) of "pair shares ≥ t bands" against the exact-Jaccard
    * truth (≥ [[SweepTruthJPpm]]), for every feasible band threshold
    * t ∈ 1..[[MinhashK]]/2. q96 fixes the operating point and reports
    * recall per similarity band; this reports the whole curve — the
    * panel that decides which band threshold the dedup endgame (q140)
    * is allowed to delete documents at, the dedup twin of q227's
    * nprobe curve.
    *
    * Scale: both relations are the existing cap-bounded pair pipelines
    * (band-bucket-local candidates, df-capped truth); the sweep is one
    * outer join + a 4-way threshold explode over the candidate-sized
    * relation. Nothing quadratic, nothing new shuffles.
    */
  def lshBandSweep(spark: SparkSession, dir: String): DataFrame = {
    val maxT = MinhashK / 2
    val truth = ngramJaccardPairs(spark, dir)
      .filter(col("jaccard_ppm") >= SweepTruthJPpm)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("is_true"))
    val cand = lshCandidatePairs(spark, dir)
    val nTruth = truth.groupBy().agg(count(lit(1)).as("n_truth"))
    val counts = cand
      .join(broadcast(truth), Seq("doc_a", "doc_b"), "left_outer")
      .select(col("n_bands"), coalesce(col("is_true"), lit(0L)).as("is_true"),
        explode(expr(s"sequence(1, $maxT)")).as("t"))
      .filter(col("n_bands") >= col("t"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_pred"), sum(col("is_true")).as("tp"))
    val ts = spark.range(1, maxT + 1)
      .select(col("id").cast("int").as("t"))
    ts.join(broadcast(counts), Seq("t"), "left_outer")
      .na.fill(0L, Seq("n_pred", "tp"))
      .crossJoin(broadcast(nTruth))
      .select(col("t").as("band_threshold"), col("n_pred"), col("tp"),
        col("n_truth"),
        expr("CASE WHEN n_pred = 0 THEN 0 " +
          "ELSE tp * 1000000 DIV n_pred END").as("precision_ppm"),
        expr("CASE WHEN n_truth = 0 THEN 0 " +
          "ELSE tp * 1000000 DIV n_truth END").as("recall_ppm"))
      .withColumn("f1_ppm", expr(
        "CASE WHEN precision_ppm + recall_ppm = 0 THEN 0 " +
          "ELSE 2 * precision_ppm * recall_ppm DIV " +
          "(precision_ppm + recall_ppm) END"))
  }

  /** Curation-impact delta report (q95) — the before/after accounting a
    * curation run publishes: every document classified as `removed_dup`
    * (a non-survivor of its near-dup cluster, [[dedupSurvivors]]' rule),
    * `kept_trimmed` (survives but loses duplicated-span tokens,
    * [[dupSpanScrub]]), or `kept_clean`, with token mass before and
    * after. One 3-row table answers "what did this curation pass delete"
    * — per-status doc counts and the exact token spend.
    *
    * Plan: the scrub profile joins doc-keyed (corpus-sized but an
    * equi-join on the natural key); the removed set is cluster members
    * only — tiny, broadcast. Nothing new shuffles beyond the two
    * constituent pipelines.
    */
  /** The removal set of [[dedupSurvivors]]' rule — every non-survivor
    * member of a near-dup cluster, as bare `doc_id` rows. Tiny next to
    * the corpus (cluster members only), so its consumers broadcast it.
    * Shared by q95's delta and the composed endgame
    * ([[CurationPipeline.endgameLedger]]) so the removal rule cannot
    * drift between the report and the committed corpus.
    */
  def nonSurvivors(spark: SparkSession, dir: String): DataFrame =
    dedupComponents(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")),
        Seq("doc_id"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("component"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)))
      .filter(col("rk") > 1)
      .select(col("doc_id"))

  def curationDelta(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
    val covered = dupSpanScrub(spark, dir).select(col("doc_id"), col("n_covered"))
    val removed = nonSurvivors(spark, dir)
      .select(col("doc_id"), lit(true).as("removed"))
    docs
      .join(covered, Seq("doc_id"), "left_outer")
      .join(broadcast(removed), Seq("doc_id"), "left_outer")
      .withColumn("n_covered", coalesce(col("n_covered"), lit(0L)))
      .withColumn("status",
        when(col("removed"), lit("removed_dup"))
          .when(col("n_covered") > 0, lit("kept_trimmed"))
          .otherwise(lit("kept_clean")))
      .withColumn("tok_after",
        when(col("removed"), lit(0L)).otherwise(col("n_tok") - col("n_covered")))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tok_before"),
        sum(col("tok_after")).as("tok_after"))
  }

  /** Connected components via alternating large-star/small-star
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond") — the adversarial-scale variant [[connectedComponents]]'s
    * Scaladoc promises: hash-min needs O(diameter) rounds, so a
    * pathological chain embedded in 100 TB of near-dup pairs stalls it;
    * star contraction converges in O(log n) rounds on ANY graph shape.
    * Same contract as [[connectedComponents]]: every doc in `pairs` is
    * labeled with the smallest doc_id reachable from it.
    *
    * Each round is two node-centric steps, each a groupBy-min plus an
    * equi-join on the node id — the same bounded shuffle shape as the
    * hash-min step, never an adjacency list in memory:
    *  - large-star: every node connects its LARGER neighbors to its
    *    neighborhood minimum (keeps the graph connected, strictly
    *    shrinks large-id stars);
    *  - small-star: every node connects its smaller neighbors and
    *    itself to that minimum (contracts toward component minima).
    * At the fixpoint the edge set is a star forest rooted at each
    * component's minimum; convergence is detected by an order-free
    * (count, Σxxhash64) edge-set signature, one tiny aggregate per round.
    */
  def connectedComponentsStars(pairs: DataFrame, maxIter: Int = 30,
      checkpointDir: Option[String] = None): DataFrame =
    connectedComponentsStarsWithStats(pairs, maxIter, checkpointDir)._1

  /** [[connectedComponentsStars]] plus the number of rounds used —
    * exposed so tests (and operational telemetry) can assert the
    * O(log n) round bound instead of trusting it.
    */
  def connectedComponentsStarsWithStats(pairs: DataFrame, maxIter: Int = 30,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    val chk = checkpointer(pairs.sparkSession, checkpointDir)

    // orient (larger, smaller); a self-pair carries no connectivity
    def orient(e: DataFrame): DataFrame = e
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))

    // large-star: per node u, m = min(N(u) ∪ {u}); emit (v, m) for the
    // strictly larger neighbors v > u
    def largeStar(e: DataFrame): DataFrame = {
      val bi = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val m = bi.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      bi.join(m, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }

    // small-star: edges oriented (u, v<u); per u, m = min of the smaller
    // neighborhood; emit (v, m) for v ∈ N⁻(u) \ {m} plus (u, m)
    def smallStar(e: DataFrame): DataFrame = {
      val or = orient(e)
      val m = or.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val viaNeighbor = or.join(m, "src")
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
      viaNeighbor.union(m.select(col("src"), col("m").as("dst"))).distinct()
    }

    // order-free set signature: xor never overflows (ANSI sum of
    // full-range hashes would), and the edge set is distinct so xor
    // cancellation can't mask a change
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L))).first()
      (r.getLong(0), r.getLong(1))
    }

    var edges = chk(orient(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))))
    var prevSig = (-1L, 0L)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      edges = chk(smallStar(largeStar(edges)))
      val sig = signature(edges)
      converged = sig == prevSig
      prevSig = sig
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponentsStars did not converge in $maxIter rounds; " +
          "returning best-effort labels")
    // fixpoint edges are (member, root) stars; groupBy-min instead of a
    // plain rename keeps the labels valid (finer clustering) even on a
    // budget-exhausted non-fixpoint, matching hash-min's best-effort
    val members = edges.groupBy(col("src")).agg(min(col("dst")).as("component"))
      .select(col("src").as("doc_id"), col("component"))
    val roots = edges.select(col("dst").as("doc_id")).distinct()
      .join(members.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("component"))
    (members.union(roots), iter)
  }

  /** Per-document duplicated-span profile (q82) — the per-document half
    * of exact-substring dedup (the action list "how much of THIS doc is
    * repeated elsewhere", the quantity span-cutting dedup à la Lee et
    * al. 2022 thresholds on): for each document, the count and ppm
    * share of its distinct shingles that occur in at least one OTHER
    * document, globally across sources (unlike q37's within-source
    * pairwise blocking — boilerplate crosses sources). Documents with
    * no duplicated span are omitted (they need no action).
    *
    * Plan: one window count over the hashed-shingle relation — rows are
    * distinct per (doc, shingle), so the per-`shash` row count IS the
    * document frequency — then a per-doc aggregation. Two shuffles, no
    * join, no pair structure; a corpus-frequent shingle only grows one
    * sort-spilling window partition, never quadratic state.
    */
  def dupSpanProfile(spark: SparkSession, dir: String): DataFrame =
    dupSpanProfileFor(Tables.documents(spark, dir))

  def dupSpanProfileFor(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("shash"))
    hashedShingles(docs)
      .withColumn("df", count(lit(1)).over(w))
      .groupBy(col("doc_id"))
      .agg(max(col("n_sh")).as("n_sh"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_ppm", expr("n_dup * 1000000 DIV n_sh"))
      .filter(col("n_dup") > 0)
      .select(col("doc_id"), col("n_sh"), col("n_dup"), col("dup_ppm"))
  }

  /** Duplicated-span scrub (q87) — the removal step q82 profiles: count
    * the token positions of each document that sit inside a globally
    * duplicated 3-token span (a shingle appearing in ≥ 2 distinct
    * documents — boilerplate, licence headers, navigation chrome), and
    * the clean token count a scrubbed rewrite would keep. Unlike q82
    * this needs POSITIONS, not the distinct shingle set: a span
    * duplicated elsewhere marks tokens i..i+2 as covered, and overlapping
    * covered spans must not double-count.
    *
    * Cross-document duplication is decided without counting: a shingle
    * hash is duplicated iff min(doc_id) ≠ max(doc_id) over its window
    * partition — exact, and cheaper state than a distinct count. The
    * same within-doc-repeat semantics as q82: a span repeated only
    * inside one document is not "duplicated".
    *
    * Plan: positional explode → one sort-spilling window on `shash` →
    * covered-position explode (3 rows per duplicated span) → per-doc
    * distinct count. Two data shuffles plus the distinct-count expand;
    * no join, no pair structure — a corpus-frequent span grows one
    * window partition linearly, never quadratically.
    */
  def dupSpanScrub(spark: SparkSession, dir: String): DataFrame =
    dupSpanScrubFor(Tables.documents(spark, dir))

  def dupSpanScrubFor(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val pos = docs
      .withColumn("toks", TextOps.tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
        // explode_outer: see [[shingles]] — and the struct keeps pos
        // and shingle in ONE generated column so the tokenizer never
        // re-runs per element
        explode_outer(expr(
          "transform(sequence(1, size(toks) - 2), i -> struct(i AS pos, " +
            "concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), " +
            "element_at(toks, i + 2)) AS sh))")).as("u"))
      .select(col("doc_id"), col("n_tok"), col("u.pos").as("pos"),
        expr(s"${graft.functions.GraftFunctions.Md5PrefixName}(u.sh, 15)").as("shash"))
    val w = Window.partitionBy(col("shash"))
    pos
      .withColumn("dup", min(col("doc_id")).over(w) =!= max(col("doc_id")).over(w))
      .filter(col("dup"))
      .select(col("doc_id"), col("n_tok"),
        explode(sequence(col("pos"), col("pos") + lit(2))).as("tp"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_tok")).as("n_tok"), countDistinct(col("tp")).as("n_covered"))
      .withColumn("n_clean", expr("n_tok - n_covered"))
      .withColumn("scrub_ppm", expr("n_covered * 1000000 DIV n_tok"))
      .select(col("doc_id"), col("n_tok"), col("n_covered"),
        col("n_clean"), col("scrub_ppm"))
  }

  val SimhashBits = 32

  /** Max hamming distance for a [[simhashPairs]] near-dup pair. With 4
    * byte-bands over 32 bits, any pair within hamming ≤ 3 shares at
    * least one intact band (pigeonhole) — exact UP TO the [[BandCap]]
    * truncation all banded generators apply: a qualifying pair whose
    * shared intact bands all sit in over-cap buckets is still dropped.
    * (The oracle caps identically, so the two engines agree; the cap is
    * a recall bound, not a cross-engine drift.)
    */
  val SimhashHammingMax = 3

  /** SimHash near-dup pairs (q105) — the candidate-generation half q40's
    * signatures exist for: signatures band into 4 bytes, docs sharing a
    * byte bucket pair up (capped, join-free — the [[bandPairs]]
    * discipline), and the exact hamming distance over the full 32 bits
    * keeps pairs within [[SimhashHammingMax]] (see its pigeonhole/cap
    * contract).
    *
    * Plan: ONE pass over the signature aggregation — the 4 byte-band
    * keys explode off a struct array (the [[bandKeysOfSig]] discipline;
    * a 4-way union re-ran the aggregation per band), and the 32-bit
    * signature itself rides through the capped bucket emission, so the
    * exact-hamming step needs no join back to the signature relation at
    * all: signature agg + band window + bucket pair agg, three keyed
    * shuffles, zero joins.
    */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sig = simhash(spark, dir)
    val bandStructs = array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        expr(s"shiftright(simhash, ${8 * b}) & 255").as("k1"))
    }: _*)
    val bands = sig
      .select(col("doc_id"), col("simhash"), explode(bandStructs).as("b"))
      .select(col("doc_id"), col("simhash"),
        col("b.band").as("band"), col("b.k1").as("k1"))
    val w = Window.partitionBy(col("band"), col("k1")).orderBy(col("doc_id"))
    bands
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= BandCap)
      .groupBy(col("band"), col("k1"))
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("docs"))
      .filter(size(col("docs")) >= 2)
      .select(explode(expr(
        "flatten(transform(docs, a -> transform(filter(docs, b -> b.doc_id > a.doc_id), " +
          "b -> struct(a.doc_id AS doc_a, b.doc_id AS doc_b, " +
          "a.simhash AS sh_a, b.simhash AS sh_b))))")).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(min(col("p.sh_a")).as("sh_a"), min(col("p.sh_b")).as("sh_b"))
      .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)").cast("long"))
      .filter(col("hamming") <= SimhashHammingMax)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** 32-bit SimHash: every token occurrence votes ±1 on each bit of its
    * md5-derived 32-bit value; bit b of the signature is 1 iff the vote
    * sum is positive. Computed as one explode + one groupBy with 32
    * partial-aggregated sums (no per-bit row blowup).
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val tv = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .withColumn("tv", expr(s"${graft.functions.GraftFunctions.Md5PrefixName}(tok, 8)"))
    val votes = (0 until SimhashBits).map { b =>
      sum(expr(s"2 * (shiftright(tv, $b) & 1) - 1")).as(s"s$b")
    }
    val sig = (0 until SimhashBits).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    tv.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }
}
