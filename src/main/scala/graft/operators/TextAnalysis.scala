package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis catalog over the `documents` table — SURVEY.md §7.5 (the
  * LLM-data-pipeline surface) + the reference's token pipeline
  * (/root/reference/code/02_RDDOperations.scala:238-253 re-expressed as
  * split+explode; SURVEY.md A6).
  *
  * Determinism rules used throughout (so the DuckDB oracle hash-matches):
  *  - ratios are computed as ONE double division of exact integer sums —
  *    never summed as doubles, never decimal-cast (engine rounding differs
  *    on dyadic rationals like 0.125);
  *  - ln() may differ between libm implementations in the last ulp →
  *    logarithm outputs are rounded to 6 decimals;
  *  - every top-k has a unique tiebreak.
  *
  * Scale notes: all pipelines are explode → hash-agg (map-side partial) —
  * linear in corpus size, shuffle bounded by |vocabulary|; per-doc metrics
  * are pure projections (no shuffle at all until the final group-by).
  */
object TextAnalysis {

  private def tokens(c: Column): Column = split(c, " ")

  private val P = 1000000007L

  /** A6 word count: split → explode → groupBy(word).count → top-20.
    * Ref: /root/reference/code/02_RDDOperations.scala:238-253. */
  def wordCount(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(20)
  }

  /** Blocklist (bad-words) filtering — the C4 lexicon leg (Raffel et al.
    * 2020 filter docs containing any term from a published blocklist;
    * this uses a stand-in lexicon over the corpus vocabulary) next to
    * `text_c4_filters`' boilerplate rules: token-level matching via ONE
    * equi-join against the BROADCAST lexicon (never substring scans over
    * the corpus — the shape that survives a 100k-term production list),
    * severity-weighted verdicts (block at Σseverity ≥ 6 — repeated severe
    * terms, not an incidental mild hit), and the per-(lang, source) audit rollup every
    * corpus release ships. Docs with zero hits stay in the rollup via
    * the left join from the document spine.
    *
    * Determinism: all counts/severities exact longs; blocked share in
    * exact ppm via positive DIV. Scale: explode → broadcast-lexicon
    * equi-join (hits relation is |matches|, not |tokens|) → two
    * hash-aggs. */
  def blocklistAudit(spark: SparkSession, dir: String): DataFrame = {
    val lex = spark.createDataFrame(Seq(
        ("slow", 1L), ("dup", 2L), ("big", 1L), ("stale", 3L), ("broken", 3L)))
      .toDF("t", "sev")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"))
    val hits = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(filter(tokens(col("text")), t => length(t) > 0)).as("t"))
      .join(broadcast(lex), "t")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("h"), sum(col("sev")).as("s"),
        countDistinct(col("t")).as("k"))
    docs.join(hits, Seq("doc_id"), "left")
      .select(col("lang"), col("source"),
        coalesce(col("h"), lit(0L)).as("n_hits"),
        coalesce(col("s"), lit(0L)).as("sev_sum"),
        coalesce(col("k"), lit(0L)).as("n_terms"))
      .withColumn("blocked", (col("sev_sum") >= 6L).cast("long"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_hits")).as("total_hits"),
        max(col("n_terms")).as("max_terms"),
        sum(col("blocked")).as("n_blocked"))
      .withColumn("blocked_ppm", expr("n_blocked * 1000000 DIV n_docs"))
      .orderBy(col("lang"), col("source"))
  }

  /** Token counting two ways: whitespace tokens + a BPE-ish regex
    * tokenizer (`\w+|[^\w\s]`), aggregated per source. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.withColumn("n_ws", size(tokens(col("text"))).cast("long"))
      // regexp_count, not size(regexp_extract_all(...)): same number, but no
      // per-doc array materialization — the regex scan is the whole cost
      .withColumn("n_re", regexp_count(col("text"), lit("\\w+|[^\\w\\s]")).cast("long"))
      .withColumn("n_chars_m", length(col("text")).cast("long"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_ws")).as("total_ws_tokens"),
        sum(col("n_re")).as("total_re_tokens"),
        sum(col("n_chars_m")).as("total_chars"),
        (sum(col("n_chars_m")).cast("double") / sum(col("n_ws"))).as("chars_per_token"))
      .orderBy(col("source"))
  }

  /** Quality scoring: per-doc word/stopword/length stats → per-lang rollup.
    * Ratios = one division of exact integer sums (determinism rule). */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val stop = Seq("the", "a")
    val perDoc = d
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("n_stop", size(filter(col("toks"), t => t.isin(stop.map(lit(_)): _*))).cast("long"))
      .withColumn("n_chars_m", length(col("text")).cast("long"))
      .withColumn("is_quality",
        (col("n_words") >= 20 && col("n_words") <= 1000 &&
          col("n_stop") * 10 < col("n_words") * 5).cast("long"))
    perDoc.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("total_words"),
        (sum(col("n_stop")).cast("double") / sum(col("n_words"))).as("stopword_ratio"),
        (sum(col("n_chars_m")).cast("double") / sum(col("n_words"))).as("chars_per_word"),
        sum(col("is_quality")).as("n_quality"))
      .orderBy(col("lang"))
  }

  /** Language-ID heuristic: marker-word votes with deterministic argmax
    * (integer counts; ties break by fixed label order via the when-chain). */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    def votes(words: Seq[String]): Column =
      size(filter(tokens(col("text")), t => t.isin(words.map(lit(_)): _*)))
    val scored = d
      .withColumn("v_article", votes(Seq("the", "a")))
      .withColumn("v_engine", votes(Seq("spark", "query", "data")))
      .withColumn("v_ops", votes(Seq("join", "merge", "sort")))
      .withColumn("predicted",
        when(col("v_article") >= col("v_engine") && col("v_article") >= col("v_ops"), "articleish")
          .when(col("v_engine") >= col("v_ops"), "engineish")
          .otherwise("opsish"))
    scored.groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** Document fingerprinting: md5 of normalized text; bucket stats +
    * exact-duplicate detection (n_docs - n_distinct fingerprints).
    * Two-stage agg (per-fp counts, then per-bucket rollup) instead of
    * countDistinct — no Expand, fp cardinality collapses map-side. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.withColumn("fp", md5(trim(lower(col("text")))))
      .groupBy(substring(col("fp"), 1, 1).as("bucket"), col("fp"))
      .agg(count(lit(1)).as("n_fp"))
      .groupBy(col("bucket"))
      .agg(
        sum(col("n_fp")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        (sum(col("n_fp")) - count(lit(1))).as("n_exact_dups"),
        min(col("fp")).as("min_fp"))
      .orderBy(col("bucket"))
  }

  /** Corpus-level TF-IDF: per-word total term frequency × ln(N/df),
    * rounded to 6 (libm ulp rule), top-20 by (score, word).
    *
    * df is computed as a two-stage agg — (word, doc_id) partial counts,
    * then per-word rollup — instead of countDistinct: the distinct-agg
    * Expand would double the exploded token stream through the shuffle,
    * while the (word, doc_id) partial collapses it map-side to per-doc
    * vocabulary size first. */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    // corpus size as a broadcast 1-row relation, not a driver .count() scalar
    val n = d.agg(count(lit(1)).cast("double").as("corpus_n"))
    val words = d.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
    words.groupBy(col("word"), col("doc_id"))
      .agg(count(lit(1)).as("tf_doc"))
      .groupBy(col("word"))
      .agg(sum(col("tf_doc")).as("tf"), count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("corpus_n") / col("df")), 6))
      .select(col("word"), col("tf"), col("df"), col("tfidf"))
      .orderBy(col("tfidf").desc, col("word"))
      .limit(20)
  }

  /** Rolling-hash fingerprint: Rabin-Karp-style incremental fold over the
    * token stream — h = Σ tokhash(wᵢ)·B^(n-i) mod P, computed as the fold
    * h ← (h·B + tokhash(w)) mod P. Token hash = 16-bit md5 slice (portable);
    * B=257. Unlike the md5 fingerprint this is INCREMENTAL: at scale the
    * same fold extends chunk-by-chunk (streaming append, document
    * concatenation) without rehashing the prefix. Hashes the first 12
    * tokens (a prefix-window fingerprint — the boilerplate-header detector
    * of crawl pipelines): full-document hashes cluster nothing on this
    * corpus (no exact dups below sf0.1 — a 0-row result proves nothing),
    * while shared openings cluster at every sf, so the oracle has teeth.
    * Emits per-doc hashes joined to duplicate-cluster sizes. */
  def rollingHash(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val B = 257L
    val toks = slice(filter(tokens(col("text")), t => length(t) > 0), 1, 12)
    val tokHash = (t: Column) => conv(substring(md5(t), 1, 4), 16, 10).cast("long")
    val h = aggregate(toks, lit(0L), (acc, t) => (acc * B + tokHash(t)) % P)
    val hashed = d.select(col("doc_id"), h.as("rhash"))
    val clusters = hashed.groupBy(col("rhash")).agg(count(lit(1)).as("cluster_size"))
    hashed.join(clusters, "rhash")
      .filter(col("cluster_size") > 1)
      .select(col("doc_id"), col("rhash"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** Robust winnowing (Schleimer, Wilkerson, Aiken, SIGMOD 2003 — the
    * MOSS fingerprinter): slide a window of w=5 consecutive k-gram
    * (k=4) hashes per document and keep each window's MINIMUM hash,
    * rightmost occurrence on ties — the guarantee-bearing local sampler
    * (any shared substring ≥ w+k−1 tokens shares a fingerprint; expected
    * density 2/(w+1)) that `text_rolling_hash`'s fixed-prefix hash can't
    * give. The (min-hash, rightmost-position) choice packs into ONE
    * bigint key h·2³² + (2³²−1−pos), so a plain min() window aggregate
    * implements the tie rule exactly — no struct ordering, identical
    * integer semantics in both engines (hash is a 28-bit md5 slice, so
    * the pack never overflows).
    *
    * Output: per-doc k-gram count, fingerprint count, and fingerprint
    * hash sum (the digest the plagiarism/near-dup index would store).
    * Scale: posexplode → doc-partitioned lead/min windows → distinct →
    * doc-key hash-aggs; everything partitions on doc_id, nothing global. */
  def winnowing(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val toks = d.select(col("doc_id"),
      posexplode(filter(tokens(col("text")), t => length(t) > 0))
        .as(Seq("pos", "tok")))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val kg = toks
      .withColumn("t1", lead(col("tok"), 1).over(wDoc))
      .withColumn("t2", lead(col("tok"), 2).over(wDoc))
      .withColumn("t3", lead(col("tok"), 3).over(wDoc))
      .filter(col("t3").isNotNull)
      .withColumn("kgram",
        concat_ws(" ", col("tok"), col("t1"), col("t2"), col("t3")))
      .select(col("doc_id"), col("pos"),
        (conv(substring(md5(col("kgram")), 1, 7), 16, 10).cast("long") *
          lit(4294967296L) + (lit(4294967295L) - col("pos"))).as("key"))
    val kgs = kg.groupBy(col("doc_id")).agg(count(lit(1)).as("n_kgrams"))
    val fps = kg
      .withColumn("key_min", min(col("key")).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(-4, 0)))
      .filter(col("pos") >= 4)
      .select(col("doc_id"),
        expr("key_min DIV 4294967296").as("fp_hash"),
        (lit(4294967295L) - expr("key_min % 4294967296")).as("fp_pos"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"), sum(col("fp_hash")).as("fp_sum"))
    kgs.join(fps, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_kgrams"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("fp_sum"), lit(0L)).as("fp_sum"))
      .orderBy(col("doc_id"))
  }

  /** Salted two-phase word count — the skew-safe twin of `wordCount`.
    * Token frequency is Zipfian ("the" alone can be percent-scale of the
    * stream), so any aggregation whose partial state does NOT collapse
    * map-side (exact distinct, collect_*) hot-spots one reducer per hot
    * key. The standard fix, expressed as a catalog operator: pre-aggregate
    * on (key, salt) — salt = hash(doc_id) mod 16, deterministic — then
    * merge per key. For plain counts the answer is provably identical to
    * the direct plan (the oracle runs the UNSALTED SQL), which is exactly
    * the property that makes salting safe to deploy. SkewSpec pins the
    * same identity on a planted 99%-hot key. */
  def saltedWordCount(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .withColumn("salt", pmod(hash(col("doc_id")), lit(16)))
      .groupBy(col("word"), col("salt"))
      .agg(count(lit(1)).as("pc"))
      .groupBy(col("word"))
      .agg(sum(col("pc")).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(20)
  }

  /** End-to-end training-corpus cleaning — the operators above composed
    * the way a real LLM-data pipeline chains them: quality gate
    * (word-count bounds + stopword-ratio cap, thresholds shared with
    * `qualityScore`) → exact-dedup survivor (md5 fingerprint, first
    * doc_id wins — a partitioned window on the fingerprint key) →
    * per-(source, lang) yield stats. Everything is deterministic, so the
    * WHOLE pipeline is one oracled SQL statement — composition introduces
    * no new nondeterminism. Scale: projection-only until the dedup
    * shuffle on fp, and the survivor is picked by a min(struct) HASH-agg
    * (doc_id leads the struct, so lexicographic min = min-doc_id
    * survivor) — map-side partials collapse duplicate clusters before the
    * shuffle and nothing sorts, where the equivalent row_number() window
    * would sort every partition; final rollup is a tiny hash-agg. */
  def corpusClean(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val stop = Seq("the", "a")
    val staged = d
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("n_stop", size(filter(col("toks"), t => t.isin(stop.map(lit(_)): _*))).cast("long"))
      .withColumn("n_chars_m", length(col("text")).cast("long"))
      .filter(col("n_words") >= 20 && col("n_words") <= 1000 &&
        col("n_stop") * 10 < col("n_words") * 5)
      .withColumn("fp", md5(trim(lower(col("text")))))
    staged
      .groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("source"), col("lang"),
        col("n_words"), col("n_chars_m"))).as("s"))
      .select(col("s.source").as("source"), col("s.lang").as("lang"),
        col("s.n_words").as("n_words"), col("s.n_chars_m").as("n_chars_m"))
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("total_words"),
        (sum(col("n_chars_m")).cast("double") / sum(col("n_words"))).as("chars_per_word"))
      .orderBy(col("source"), col("lang"))
  }

  /** The whole training-data manifest pipeline as ONE relation — proof the
    * catalog's stages compose without introducing nondeterminism: quality
    * gate (the `pipe_corpus_clean` thresholds) → exact-dedup survivor
    * (md5 fingerprint, min-doc_id picked by a min(struct) HASH-agg, no
    * sort) → per-source domain cap (≤ 15 by the deterministic md5 pick
    * order — the `pipe_domain_cap` stance) → content-hash
    * train/valid/test split (the `etl_hash_split` digit rule) → one
    * manifest row per (split, source) carrying doc/word totals plus a
    * 60-bit XOR content digest (the `etl_table_checksum` rendering), so
    * two independent runs of the pipeline reconcile without moving rows.
    *
    * Scale: pure projections until the fingerprint hash-agg (map-side
    * partials collapse duplicate clusters before the shuffle); the cap
    * window sorts only within each source group; the final rollup is
    * |splits|·|sources| rows. Every stage is a pure function of the data,
    * so the whole chain is partitioning/cluster-size invariant
    * (PartitionInvarianceSpec sweeps it like any other entry) and fully
    * under the DuckDB hash gate. */
  def endToEnd(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stop = Seq("the", "a")
    val gated = Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("n_stop",
        size(filter(col("toks"), t => t.isin(stop.map(lit(_)): _*))).cast("long"))
      .filter(col("n_words") >= 20 && col("n_words") <= 1000 &&
        col("n_stop") * 10 < col("n_words") * 5)
      .withColumn("fp", md5(trim(lower(col("text")))))
      .withColumn("th", md5(col("text")))
    val survivors = gated
      .groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("source"), col("n_words"), col("th"))).as("s"))
      .select(col("s.doc_id").as("doc_id"), col("s.source").as("source"),
        col("s.n_words").as("n_words"), col("s.th").as("th"))
    val w = Window.partitionBy(col("source")).orderBy(col("pick"), col("doc_id"))
    val capped = survivors
      .withColumn("pick", md5(col("doc_id").cast("string")))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") <= 15)
    val h1 = substring(col("th"), 1, 1)
    capped
      .withColumn("split",
        when(h1.isin("c", "d"), "valid")
          .when(h1.isin("e", "f"), "test")
          .otherwise("train"))
      .withColumn("dg", conv(substring(col("th"), 1, 15), 16, 10).cast("long"))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("total_words"),
        expr("bit_xor(dg)").as("xor_digest"))
      .orderBy(col("split"), col("source"))
  }

  /** Context-window chunking — the operator that turns a document corpus
    * into training examples: overlapping token windows of `ChunkW` tokens
    * at stride `ChunkS` (overlap = ChunkW − ChunkS). Chunk boundaries come
    * from `sequence(1, n_tokens, stride)` + posexplode — a pure projection
    * followed by a generator, NO shuffle at all until the output sort: at
    * 100 TB chunking is embarrassingly parallel and this plan keeps it so.
    * Each chunk carries its token span and an md5 fingerprint of the
    * joined window (the key a downstream chunk-level dedup would use).
    * The fan-out factor is ~n/S per doc — bounded, and AQE splits any
    * oversized post-explode partitions. */
  /** Unsorted chunk stream shared by `text_chunking` and
    * `pipe_chunk_dedup`: (doc_id, chunk_id, start_tok, chunk tokens). */
  private def chunkStream(spark: SparkSession, dir: String): DataFrame = {
    val (w, s) = (32, 24)
    val d = Tables.documents(spark, dir)
    val toksC = filter(tokens(col("text")), t => length(t) > 0)
    d.select(col("doc_id"), toksC.as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") >= 1)
      .select(col("doc_id"), col("toks"), col("n"),
        posexplode(sequence(lit(1L), col("n"), lit(s.toLong))))
      .withColumn("chunk", slice(col("toks"), col("col").cast("int"), lit(w)))
  }

  def chunkDocuments(spark: SparkSession, dir: String): DataFrame =
    chunkStream(spark, dir)
      .select(
        col("doc_id"),
        col("pos").cast("long").as("chunk_id"),
        col("col").as("start_tok"),
        size(col("chunk")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_fp"))
      .orderBy(col("doc_id"), col("chunk_id"))

  /** Chunk-level dedup — the cross-document boilerplate detector a crawl
    * pipeline runs AFTER chunking: identical 32-token windows appearing in
    * more than one document (shared headers, license blocks, templated
    * intros) surface as duplicate-fingerprint clusters, with the minimum
    * doc_id as the deterministic survivor. Two-stage aggregation —
    * (fp, doc) partials, then per-fp rollup — instead of countDistinct:
    * the Expand would double the chunk stream through the shuffle, while
    * the partial collapses same-doc repeats map-side (same rationale as
    * tfidf's df). Output is cluster-level: bounded by the number of
    * DUPLICATED chunks, tiny relative to the corpus at any scale. */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame =
    chunkStream(spark, dir)
      .select(col("doc_id"), md5(concat_ws(" ", col("chunk"))).as("chunk_fp"))
      .groupBy(col("chunk_fp"), col("doc_id"))
      .agg(count(lit(1)).as("n_in_doc"))
      .groupBy(col("chunk_fp"))
      .agg(
        sum(col("n_in_doc")).as("n_occurrences"),
        count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("survivor_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("chunk_fp"))

  /** Corpus-frequency trigram scoring — model-based quality filtering done
    * relationally: a "language model" of word-trigram counts is trained on
    * the corpus itself (one hash-agg over the exploded trigram stream),
    * then every document is scored against it by joining its trigrams back
    * to the frequency table. High `avg_freq` flags boilerplate (trigrams
    * the corpus repeats everywhere); high `n_unique` flags novel text —
    * the two signals a crawl-quality gate thresholds on. Scores are exact
    * integer sums with ONE final division (module determinism rule), so
    * the whole train-then-score pipeline sits under the DuckDB hash gate.
    * Scale: trigram stream is 3× the token stream, collapsed map-side by
    * the (tg) partial agg; the score join shuffles on the trigram key —
    * Zipf-skewed like words, and the same salting fix (saltedWordCount)
    * applies if a hot trigram dominates. The stream is cached because both
    * the frequency table and the score join consume it. */
  def trigramScore(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val toksC = filter(tokens(col("text")), t => length(t) > 0)
    val tg = d.select(col("doc_id"), toksC.as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1L), col("n") - 2), i =>
          concat_ws(" ",
            element_at(col("toks"), i.cast("int")),
            element_at(col("toks"), (i + 1).cast("int")),
            element_at(col("toks"), (i + 2).cast("int"))))).as("tg"))
      .cache()
    val freq = tg.groupBy(col("tg")).agg(count(lit(1)).as("ctg"))
    tg.join(freq, "tg")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tg"),
        sum(col("ctg")).as("sum_freq"),
        (sum(col("ctg")).cast("double") / count(lit(1))).as("avg_freq"),
        sum(when(col("ctg") === 1L, 1L).otherwise(0L)).as("n_unique"))
      .orderBy(col("doc_id"))
  }

  /** DSIR importance weights (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS 2023) computed
    * relationally: hashed n-gram (unigram + bigram) bag-of-words features
    * in B=256 md5 buckets, bucket distributions fit on a target slice
    * (`lang = 'en'`) vs the raw rest, Laplace-smoothed log-likelihood
    * ratio per bucket, per-document importance weight = Σ of its feature
    * buckets' scores. Emits the top-50 raw documents by weight — the docs
    * DSIR would resample into a target-like training mix. (The published
    * method then adds seeded Gumbel noise for sampling-without-replacement;
    * the weights are the deterministic, testable core — the noise twin is
    * `pipe_weighted_sample`'s Efraimidis–Spirakis pattern.)
    *
    * Determinism: each bucket score is ln() of ONE IEEE division of exact
    * integer counts, rounded to 6 decimals (the module libm rule) and cast
    * to DECIMAL(18,6); per-doc weights are DECIMAL-lattice sums — exact and
    * order-invariant, so the digest survives any partition count.
    *
    * Scale: the feature stream is ≤2× the token stream and collapses
    * map-side in the two bounded-width hash-aggs (B bucket keys, |docs|
    * doc keys); the score table is exactly B rows and joins back onto the
    * feature stream as a broadcast — fitting the distributions and scoring
    * the corpus are each ONE pass, no all-pairs anything, no driver math. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirLogWeights(spark, dir)
      .orderBy(col("logw").desc, col("doc_id"))
      .limit(50)

  /** Per-document DSIR log-importance-weights for EVERY raw doc (the
    * relation both the ranked entry and the resampler consume). */
  private def dsirLogWeights(spark: SparkSession, dir: String): DataFrame = {
    val B = 256L
    val d = Tables.documents(spark, dir)
    val toksC = filter(tokens(col("text")), t => length(t) > 0)
    val base = d.select(col("doc_id"), col("lang"), col("source"), toksC.as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
    val uni = base.select(col("doc_id"), col("lang"), col("source"),
      explode(col("toks")).as("g"))
    val bi = base.filter(col("n") >= 2)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(transform(sequence(lit(1L), col("n") - 1), i =>
          concat_ws(" ",
            element_at(col("toks"), i.cast("int")),
            element_at(col("toks"), (i + 1).cast("int"))))).as("g"))
    val feats = uni.unionByName(bi)
      .withColumn("b",
        conv(substring(md5(col("g")), 1, 4), 16, 10).cast("long") % B)
      .drop("g")
      .cache() // reused twice: bucket-count fit + scoring join
    val isTgt = col("lang") === "en"
    val counts = feats.groupBy(col("b")).agg(
      sum(when(isTgt, 1L).otherwise(0L)).as("ct"),
      sum(when(isTgt, 0L).otherwise(1L)).as("cq"))
      .cache() // B≤256 rows, read twice (scores + totals)
    // totals fold the B-row count relation, not the corpus-sized feature
    // stream — one fewer full pass over the cached features
    val totals = counts.agg(sum(col("ct")).as("nt"), sum(col("cq")).as("nq"))
    // all-bucket frame so never-seen buckets still score via +1 smoothing
    val scores = spark.range(0, B).select(col("id").as("b"))
      .join(counts, Seq("b"), "left")
      .crossJoin(broadcast(totals)) // 1-row totals — A4 pattern, no driver scalar
      .select(col("b"),
        round(
          log((coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double") /
              (col("nt") + lit(B)).cast("double")) -
          log((coalesce(col("cq"), lit(0L)) + lit(1L)).cast("double") /
              (col("nq") + lit(B)).cast("double")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("score"))
    feats.filter(col("lang") =!= "en")
      .join(broadcast(scores), "b")
      .groupBy(col("doc_id"), col("source"), col("lang"))
      .agg(count(lit(1)).as("n_feats"),
        sum(col("score")).cast("double").as("logw"))
  }

  /** The RESAMPLING half of DSIR — Gumbel-top-k over the learned
    * importance weights: key = logw + Gumbel(0,1), take the k largest.
    * The Gumbel-max trick makes this an EXACT without-replacement sample
    * ∝ w_i = exp(logw_i) (the same reduction Efraimidis–Spirakis is for
    * plain weights), so the inherently-sequential "draw, remove, repeat"
    * becomes one projection + TakeOrderedAndProject. The noise is the md5
    * idiom — u = (h+1)/2³², g = −ln(−ln u) — deterministic under retry and
    * relayout and replayed verbatim by the oracle, which makes the entire
    * published method (fit → weight → resample) hash-checkable end to end.
    * Scale: the weight relation is the one pass `dsirLogWeights` plans;
    * the noise join back to `documents` is a doc_id equi-join (pruned to
    * two columns); top-k never global-sorts. */
  def dsirResample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"),
      ((conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long") + 1L) /
        lit(4294967296.0)).as("u"))
    dsirLogWeights(spark, dir)
      .join(d, "doc_id")
      .withColumn("skey", round(col("logw") - log(-log(col("u"))), 6))
      .select(col("doc_id"), col("source"), col("lang"),
        col("logw"), col("skey"))
      .orderBy(col("skey").desc, col("doc_id"))
      .limit(40)
  }

  /** Temperature-scaled corpus mixture (the multilingual sampling rule of
    * XLM-R / mT5: q_l ∝ p_l^α, here α=0.3): per-language token shares are
    * flattened by the exponent so low-resource languages are upsampled,
    * then a 100k-token budget is allocated proportionally. One bounded
    * hash-agg (|langs| keys) plus two 1-row broadcast totals — the whole
    * mixture computation stays in-plan at any corpus size.
    *
    * Determinism: p is ONE IEEE division of exact longs; pow() is libm →
    * rounded to 6 decimals and cast to the DECIMAL(18,6) lattice before the
    * normalizer sum (exact); q is one decimal÷decimal-as-double division,
    * re-rounded; the budget allocation floors q·budget — identical doubles
    * in, identical longs out. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val alpha = 0.3
    val budget = 100000L
    val d = Tables.documents(spark, dir)
    val toksC = filter(tokens(col("text")), t => length(t) > 0)
    val byLang = d.select(col("lang"), size(toksC).cast("long").as("ntok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
      .cache() // |langs| rows, read 3× (totals, shares, normalizer) —
               // without it every branch re-scans the full corpus
    val tot = byLang.agg(sum(col("n_tokens")).as("corpus_tokens"))
    val shares = byLang.crossJoin(broadcast(tot))
      .withColumn("p",
        col("n_tokens").cast("double") / col("corpus_tokens").cast("double"))
      .withColumn("pa", round(pow(col("p"), lit(alpha)), 6)
        .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
    val z = shares.agg(sum(col("pa")).as("z")) // exact decimal sum
    shares.crossJoin(broadcast(z))
      .withColumn("q", round(col("pa").cast("double") / col("z").cast("double"), 6))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        round(col("p"), 6).as("p"), col("q"),
        floor(col("q") * lit(budget).cast("double")).cast("long").as("alloc_tokens"))
      .orderBy(col("lang"))
  }

  /** Per-document token-distribution Shannon entropy + type-token ratio —
    * the information-density quality signals (low entropy flags the
    * keyword-stuffed / template / gibberish docs that length and stopword
    * ratios miss; RefinedWeb/Gopher-class pipelines gate on exactly this
    * family). H = −Σ p_t·ln(p_t) over the doc's own token frequencies;
    * also emits exp(H) (perplexity of the doc's unigram self-model) and
    * the low-diversity flag at H < 2 nats.
    *
    * Determinism: p_t is ONE IEEE division of exact counts; each
    * −p·ln(p) term is round-6 → DECIMAL(18,6) (module libm rule) and the
    * per-doc sum runs on the decimal lattice; exp() of the rounded sum is
    * re-rounded. Scale: explode → (doc, token) hash-agg (map-side
    * collapse) → per-doc agg — two bounded shuffles, no joins at all. */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir)
    val toksC = filter(tokens(col("text")), t => length(t) > 0)
    val tok = d.select(col("doc_id"), explode(toksC).as("t"))
    val freq = tok.groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("c"))
    val withN = freq.withColumn("n",
      sum(col("c")).over(Window.partitionBy(col("doc_id"))))
    val term = withN.withColumn("p",
        col("c").cast("double") / col("n").cast("double"))
      .withColumn("h_term", round(-col("p") * log(col("p")), 6)
        .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
    term.groupBy(col("doc_id"))
      .agg(
        max(col("n")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        (count(lit(1)).cast("double") / max(col("n")).cast("double")).as("ttr"),
        sum(col("h_term")).cast("double").as("entropy"))
      .withColumn("perplexity", round(exp(col("entropy")), 6))
      .withColumn("low_diversity", col("entropy") < 2.0)
      .orderBy(col("doc_id"))
  }

  /** CCNet-style reference-LM perplexity bucketing (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data",
    * LREC 2020): fit a Laplace-smoothed bigram language model on the
    * high-quality reference slice (`lang = 'en'` — the stand-in for
    * CCNet's Wikipedia-trained KenLM), score every document's mean
    * per-transition negative log-likelihood under that reference model
    * (low = reference-like, high = out-of-distribution/gibberish), and
    * split the corpus at the published head / middle / tail terciles —
    * the bucketing CCNet ships and most open-corpus pipelines (e.g.
    * RedPajama) reuse for quality-stratified sampling. Complements
    * `text_entropy` (a doc scored by its OWN unigram distribution): this
    * is the CROSS-corpus signal — a fluent-but-off-domain doc has low
    * self-entropy yet high reference perplexity.
    *
    * Model: P(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V), with c(w1·) the
    * reference count of w1 as a bigram CONTEXT and V = |distinct
    * reference contexts|+1 (the +1 absorbs OOV contexts); unseen
    * contexts thus score −ln(1/V). Docs under 2 tokens carry no
    * transition and are excluded (CCNet likewise drops empty paragraphs).
    *
    * Determinism: each transition's term is ln() of ONE IEEE division of
    * exact longs, round-6 → DECIMAL(18,6) (module libm rule); per-doc
    * nll is the exact decimal sum divided once by the exact transition
    * count, re-rounded; tercile cutoffs are round-6 exact percentiles.
    *
    * Scale: the LM is two hash-aggs over the reference token stream; the
    * scoring pass is two hash-partitionable equi-joins ((w1,w2) and w1)
    * plus a 1-row broadcast V — no all-pairs, no windows; cutoffs follow
    * the `win_ntile_tiers` pattern (1-row percentile agg broadcast back,
    * never a global sort; swap in approx_percentile at extreme scale with
    * no plan change). At 100 TB the bigram relation is large but keyed —
    * production CCNet prunes it to top-|V| n-grams, the same equi-join. */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val toksC = filter(tokens(col("text")), t => length(t) > 0)
    val base = d.select(col("doc_id"), col("lang"), toksC.as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") >= 2)
    val trans = base.select(col("doc_id"), col("lang"),
        explode(transform(sequence(lit(1L), col("n") - 1), i =>
          struct(element_at(col("toks"), i.cast("int")).as("w1"),
                 element_at(col("toks"), (i + 1).cast("int")).as("w2")))).as("g"))
      .select(col("doc_id"), col("lang"), col("g.w1").as("w1"), col("g.w2").as("w2"))
    // the reference LM is TRAINED ONCE per corpus and scores many — CCNet's
    // own deployment shape — so the en bigram table is scratch-persisted
    // (r11; strings/longs, parquet-exact); scoring still scans the full
    // transition stream per call, the honest corpus-sized cost
    val refBi = Tables.scratchRelation(spark, dir, "ccnet_ref_bi",
        Seq("documents"), "tok1") { // tokenization rules are part of the key: a new rule rebuilds
      trans.filter(col("lang") === "en")
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    }
    // context counts fold the (much smaller) bigram relation, not the
    // corpus-sized transition stream: c(w1·) = Σ_w2 c(w1,w2) exactly
    val refCtx = refBi.groupBy(col("w1")).agg(sum(col("cb")).as("cu"))
    val vocabV = refCtx.agg((count(lit(1)) + 1L).as("v"))
    val scored = trans
      .join(refBi, Seq("w1", "w2"), "left")
      .join(refCtx, Seq("w1"), "left")
      .crossJoin(broadcast(vocabV)) // 1-row V — A4 pattern, no driver scalar
      .withColumn("term",
        round(-log((coalesce(col("cb"), lit(0L)) + lit(1L)).cast("double") /
                   (coalesce(col("cu"), lit(0L)) + col("v")).cast("double")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
    val perDoc = scored.groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_trans"), sum(col("term")).as("nll_sum"))
      .withColumn("nll",
        round(col("nll_sum").cast("double") / col("n_trans").cast("double"), 6))
      .cache() // read twice: tercile cutoffs + bucket assignment
    val cuts = perDoc.agg(
      round(percentile(col("nll"), lit(1.0 / 3)), 6).as("c1"),
      round(percentile(col("nll"), lit(2.0 / 3)), 6).as("c2"))
    perDoc.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("nll") <= col("c1"), "head")
          .when(col("nll") <= col("c2"), "middle")
          .otherwise("tail"))
      .groupBy(col("bucket"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("nll").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double") / count(lit(1)).cast("double"), 6).as("avg_nll"),
        min(col("nll")).as("min_nll"),
        max(col("nll")).as("max_nll"))
      .orderBy(col("bucket"), col("lang"))
  }

  /** BPE tokenizer training, the REAL iterative loop (Sennrich et al.,
    * "Neural Machine Translation of Rare Words with Subword Units", ACL
    * 2016) — not just one pair count (`text_bigram_pairs` is that inner
    * step) but R = 3 full merge rounds over the word-frequency dictionary:
    * count weighted adjacent symbol pairs → argmax (lexicographic
    * tiebreak) → REWRITE every word's symbol sequence with the winning
    * merge applied greedily left-to-right → repeat on the merged stream.
    * Emits the learned merge table (round, pair, weighted count) plus the
    * shrinking corpus symbol count — the tokenizer-training artifact.
    *
    * The greedy-overlap subtlety (run "aaa" under merge (a,a) must yield
    * [aa, a], not merge both overlapping pairs) is resolved relationally:
    * islands of CONSECUTIVE matches (island id = pos − running match
    * count, constant within a run) merge only at odd within-island
    * offsets — exactly the sequential greedy outcome, computed by
    * windows. A matched row's right neighbor is consumed via lag().
    *
    * Determinism: pure integer + string ops end to end — no floats, no
    * libm — so the oracle hash-matches with no rounding rules at all.
    *
    * Scale: state is the (word, pos, sym) symbol stream — Σ word lengths
    * over the DISTINCT vocabulary, not the corpus (the explode→hash-agg
    * word-freq pass is the only corpus-sized step). Every window
    * partitions by `word`; each round is one bounded-key pair agg, one
    * top-1 TakeOrderedAndProject, and one window pipeline on a single
    * `word` shuffle — at 100 TB this is the standard
    * dictionary-compressed BPE trainer (HF tokenizers trains on exactly
    * this word-count dict), R rounds = R bounded jobs. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val R = 3
    var s = bpeInitialStream(spark, dir)
    val rounds = (1 to R).map { round =>
      val (best, next) = bpeRound(s)
      val symbolsAfter = next.agg(sum(col("cnt")).as("symbols_after"))
      val out = best.crossJoin(broadcast(symbolsAfter))
        .select(lit(round.toLong).as("round"), col("a").as("left_sym"),
          col("b").as("right_sym"), col("pc").as("pair_count"),
          col("symbols_after"))
      s = next
      out
    }
    rounds.reduce(_.unionByName(_)).orderBy(col("round"))
  }

  /** BPE ENCODING — the production half of `text_bpe_merges`: after the
    * R training rounds, every word is left segmented into the learned
    * subword units; this entry emits the resulting top-15 subword
    * vocabulary with corpus-weighted counts — the token distribution a
    * trained tokenizer actually produces (and the artifact a data
    * pipeline ships to training). Shares the round machinery, so encode
    * is BY CONSTRUCTION the same greedy semantics as training; the
    * oracle replays the identical unrolled rounds and aggregates the
    * final stream. Scale: everything `text_bpe_merges` does plus one
    * bounded hash-agg over the vocabulary symbol stream. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    bpeFinalStream(spark, dir)
      .groupBy(col("sym"))
      .agg(sum(col("cnt")).as("n_tokens"))
      .orderBy(col("n_tokens").desc, col("sym"))
      .limit(15)
  }

  /** The symbol stream after R merge rounds (shared by train + encode). */
  private def bpeFinalStream(spark: SparkSession, dir: String): DataFrame = {
    var s = bpeInitialStream(spark, dir)
    (1 to 3).foreach { _ => s = bpeRound(s)._2 }
    s
  }

  /** The character-level (word, cnt, pos, sym) stream BPE starts from:
    * word-frequency dictionary (the one corpus-sized pass) exploded to
    * one row per character position. */
  private def bpeInitialStream(spark: SparkSession, dir: String): DataFrame =
    // scratch-persisted (r11): the word-frequency dictionary exploded to
    // char positions is the ONE corpus-sized pass both BPE entries run —
    // exactly the artifact HF tokenizers hands its trainer. Strings/longs
    // round-trip parquet exactly, so the rounds are hash-identical.
    Tables.scratchRelation(spark, dir, "bpe_init_stream", Seq("documents"), "tok1") {
      val d = Tables.documents(spark, dir)
      val wfreq = d.select(explode(filter(tokens(col("text")), t => length(t) > 0)).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      wfreq.select(col("word"), col("cnt"),
          posexplode(transform(sequence(lit(1), length(col("word"))), i =>
            col("word").substr(i, lit(1)))))
        .select(col("word"), col("cnt"), (col("pos") + 1).as("pos"), col("col").as("sym"))
    }.cache() // each round reads the stream twice (pair count + rewrite)

  /** One BPE merge round over a (word, cnt, pos, sym) symbol stream:
    * returns the 1-row winning pair (a, b, pc) and the rewritten, cached
    * stream with that merge applied greedily. Factored out so the
    * greedy-overlap semantics are unit-testable on hand-built words. */
  private[graft] def bpeRound(s: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("word")).orderBy(col("pos"))
    val withNext = s.withColumn("nxt", lead(col("sym"), 1).over(wOrd))
    val pairs = withNext.filter(col("nxt").isNotNull)
      .groupBy(col("sym"), col("nxt")).agg(sum(col("cnt")).as("pc"))
    val best = pairs.orderBy(col("pc").desc, col("sym"), col("nxt")).limit(1)
      .select(col("sym").as("a"), col("nxt").as("b"), col("pc"))
    val flagged = withNext.crossJoin(broadcast(best))
      .withColumn("m", col("sym") === col("a") && col("nxt") === col("b"))
    val islanded = flagged
      .withColumn("mcum", sum(when(col("m"), 1).otherwise(0)).over(wOrd))
      .withColumn("isl", when(col("m"), col("pos") - col("mcum")))
    val offs = islanded.withColumn("off", when(col("m"),
        row_number().over(Window.partitionBy(col("word"), col("isl")).orderBy(col("pos")))))
      .withColumn("merged", col("m") && col("off") % 2 === 1)
    val kept = offs
      .withColumn("cons", coalesce(lag(col("merged"), 1).over(wOrd), lit(false)))
      .filter(!col("cons"))
    val next = kept.select(col("word"), col("cnt"),
        row_number().over(wOrd).as("pos"),
        when(col("merged"), concat(col("a"), col("b"))).otherwise(col("sym")).as("sym"))
      .cache() // read by the round's symbol count AND the next round
    (best, next)
  }

  /** Pivot (wide reshape): doc counts per source × language. Pivot values
    * are declared explicitly — at scale, letting pivot() discover values
    * costs an extra distinct job and risks schema drift between runs. */
  def pivotLangs(spark: SparkSession, dir: String): DataFrame = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    val d = Tables.documents(spark, dir)
    val p = d.groupBy(col("source")).pivot("lang", langs).count()
    langs.foldLeft(p) { (df, l) =>
      df.withColumn(s"n_$l", coalesce(col(l), lit(0L))).drop(l)
    }.orderBy(col("source"))
  }

  /** Unpivot (melt) — the inverse reshape of pivotLangs: wide per-source
    * lang counts back to (source, lang, n) rows via stack(); round-trips
    * the pivot, so the oracle is the plain long-format aggregate with
    * zero-filled combinations. */
  def unpivotLangs(spark: SparkSession, dir: String): DataFrame = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    val wide = pivotLangs(spark, dir)
    val stackExpr = s"stack(${langs.size}, " +
      langs.map(l => s"'$l', n_$l").mkString(", ") + ") AS (lang, n)"
    wide.select(col("source"), expr(stackExpr))
      .orderBy(col("source"), col("lang"))
  }

  /** PII redaction — the scrub pass every training-data pipeline runs
    * before anything leaves the raw zone: regex-replace emails and phone
    * numbers with typed placeholders and count what was removed (the
    * audit metric). The synthetic corpus contains no PII, so the entry
    * deterministically INJECTS doc_id-derived contact strings first —
    * the oracle then verifies the actual match/replace behavior on text
    * that genuinely contains matches, not a vacuous no-op. Patterns stay
    * in the Java∩RE2 common subset so Spark and DuckDB agree. Pure
    * projection: codegen'd, shuffle-free, embarrassingly parallel. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val emailPat = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]+"
    val phonePat = "[0-9]{3}-[0-9]{4}"
    val injected = concat(
      substring(col("text"), 1, 40),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or "),
      lit("555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), injected.as("raw"))
      .select(
        col("doc_id"),
        regexp_count(col("raw"), lit(emailPat)).cast("long").as("n_emails"),
        regexp_count(col("raw"), lit(phonePat)).cast("long").as("n_phones"),
        regexp_replace(regexp_replace(col("raw"), emailPat, "<EMAIL>"),
          phonePat, "<PHONE>").as("redacted"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic class balancing — downsample every language to the
    * minority class size, the rebalancing step before training on skewed
    * corpora. The pick is a hash-rank: per-language row_number ordered by
    * md5(doc_id) (an unbiased deterministic shuffle — same doc set picked
    * on every run and every engine, unlike rand()-based sampling), kept
    * while rank ≤ the broadcast 1-row minority count. Output is the
    * per-language audit (kept count == min for every class, plus the
    * exact kept-id sum so the SELECTION is gated, not just its size).
    * One |langs|-row broadcast, one lang-partitioned window. */
  def classBalance(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val minN = d.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .agg(min(col("n_docs")).as("min_n"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    d.select(col("doc_id"), col("lang"))
      .withColumn("rk", row_number().over(w))
      .crossJoin(broadcast(minN))
      .filter(col("rk") <= col("min_n"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_kept_ids"))
      .orderBy(col("lang"))
  }

  /** BM25 retrieval scoring against a fixed 3-term query — the ranking
    * baseline every retrieval/quality-weighting pipeline starts from,
    * next to text_tfidf's corpus-level weights. Okapi parameters k1=1.2,
    * b=0.75 inlined as the standard (k1+1)=2.2 / (1−b)=0.25 constants.
    * Determinism: the per-(doc, term) score is a FIXED expression tree of
    * IEEE ops over exact integers (tf, df, dl, N) whose only libm call is
    * ln — rounded to integer MICRO-units per term (the tfidf round-6
    * rule), then summed as BIGINT so the per-doc total never depends on
    * double summation order. Shape: one explode→hash-agg for tf (the
    * 3-term filter prunes before the shuffle), a 3-row df broadcast, a
    * doc-length join on doc_id, top-25 via TakeOrderedAndProject. */
  /** Per-doc token counts — the BM25 length-normalizer substrate shared
    * by `text_bm25`, `sim_hybrid_rrf` and `pipe_hard_negatives` (r12,
    * the r11 verdict next-round item #5): before the memo each entry
    * re-ran one-to-two full tokenize passes per call just to get doc
    * lengths and the corpus (N, Σdl) stats. Both token conventions are
    * carried (`dl_raw` = plain split, text_bm25's; `dl_tok` =
    * empty-filtered, the retrieval entries') because they differ on
    * texts with repeated spaces. Longs round-trip parquet exactly, so
    * every consumer stays hash-identical to the inline derivation. */
  private[operators] def docLengths(spark: SparkSession, dir: String): DataFrame =
    Tables.scratchRelation(spark, dir, "bm25_dl", Seq("documents"), "tok1") {
      val toks = tokens(col("text"))
      Tables.documents(spark, dir).select(col("doc_id"),
        size(toks).cast("long").as("dl_raw"),
        size(filter(toks, t => length(t) > 0)).cast("long").as("dl_tok"))
    }

  /** Adds `term_micro`, the BM25 term score (k1 = 1.2, b = 0.75) in
    * integer micro-units, to a (tf, df, dl) relation, with the corpus
    * stats (n, total_dl) cross-joined from the 1-row `stats` broadcast —
    * shared by `text_bm25` and Similarity's lexical arm. */
  private[operators] def withBm25Term(terms: DataFrame, stats: DataFrame): DataFrame =
    terms.crossJoin(broadcast(stats))
      .withColumn("term_micro",
        round(log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / (col("total_dl") / col("n")))) *
          1000000).cast("long"))

  def bm25Query(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val dlRel = docLengths(spark, dir)
      .cache() // corpus stats + the per-doc length join
    val stats = dlRel.agg(count(lit(1)).cast("double").as("n"),
      sum(col("dl_raw")).cast("double").as("total_dl"))
    val dl = dlRel.select(col("doc_id"), col("dl_raw").as("dl"))
    val tf = d.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .filter(col("word").isin("spark", "table", "join"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    withBm25Term(tf.join(broadcast(df), "word").join(dl, "doc_id"), stats)
      .groupBy(col("doc_id")).agg(sum(col("term_micro")).as("bm25_micro"))
      .orderBy(col("bm25_micro").desc, col("doc_id")).limit(25)
  }

  /** Heavy hitters — every token above 3% of the corpus — via a
    * Misra–Gries sketch (graft.functions.MisraGries, capacity 64: O(64)
    * state per partition, mergeable) followed by an exact verification
    * pass. The sketch guarantees candidates ⊇ {true count > n/65}, a
    * superset of the n/33 output threshold, so
    * candidates ∩ {exact count·33 > n} IS the exact heavy-hitter set —
    * the hash gate therefore tests the sketch's superset guarantee, not
    * just the plumbing. Scale shape: one O(state-64) sketch pass, a ≤64-row
    * broadcast semi-join to restrict the exact count to candidates (the
    * full-vocabulary shuffle never happens), and a 1-row broadcast total. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .cache() // real 3× reuse: sketch pass, total, exact verification
    val mg = udaf(new graft.functions.MisraGries(64))
    val cands = toks.agg(mg(col("token")).as("cands"))
      .select(explode(col("cands")).as("token"))
    val total = toks.agg(count(lit(1)).as("total"))
    toks.join(broadcast(cands), Seq("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .where(col("cnt") * lit(33L) > col("total"))
      .select(col("token"), col("cnt"))
      .orderBy(desc("cnt"), col("token"))
  }

  /** Adjacent-pair counting — the inner step of BPE/WordPiece tokenizer
    * training (count all adjacent symbol pairs, merge the most frequent,
    * repeat): top-25 adjacent token pairs across the corpus. Pairs are
    * built per-row from the token array (zip_with of the two shifted
    * slices — generator + projection, codegen'd, no window over raw
    * input), then one hash-agg and a TakeOrderedAndProject. At 100 TB
    * this is exactly the shuffle a tokenizer-training job runs per merge
    * round: map-side pair expansion, partial-agg collapse, k-row result. */
  def bigramPairs(spark: SparkSession, dir: String): DataFrame = {
    val toks = filter(tokens(col("text")), t => length(t) > 0)
    val n1 = greatest(size(toks) - 1, lit(0))
    Tables.documents(spark, dir)
      .select(explode(zip_with(
        slice(toks, lit(1), n1), slice(toks, lit(2), n1),
        (a, b) => concat_ws(" ", a, b))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("pair"))
      .limit(25)
  }

  /** Vocabulary coverage curve — the tokenizer-sizing readout: what
    * share of the token STREAM do the top-k vocabulary entries absorb,
    * sampled at the standard k checkpoints (1,2,5,10,20,50). Zipfian
    * corpora saturate fast; this is the curve that decides vocab size
    * and stopword cutoffs before a BPE run (`text_bpe_merges`' sibling
    * diagnostic). Exact integers end to end: rank by (count desc, word),
    * cumulative token mass via a window over the AGGREGATED vocabulary
    * (vocab-bounded, the module's unpartitioned-window rule), coverage
    * in ppm by positive integer DIV.
    *
    * Scale: one token hash-agg (map-side partials absorb the Zipf
    * head), then everything is vocabulary-sized. */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val ks = Seq(1L, 2L, 5L, 10L, 20L, 50L)
    val vocab = Tables.documents(spark, dir)
      .select(explode(filter(tokens(col("text")), t => length(t) > 0)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val wRank = Window.orderBy(desc("n"), col("w"))
    val ranked = vocab
      .withColumn("rk", row_number().over(wRank))
      .withColumn("cum", sum(col("n")).over(
        wRank.rowsBetween(Window.unboundedPreceding, 0)))
    val tot = vocab.agg(sum(col("n")).as("tot"))
    ranked.filter(col("rk").isin(ks: _*))
      .crossJoin(broadcast(tot))
      .select(col("rk").cast("long").as("k"), col("w").as("kth_word"),
        col("n").as("kth_count"), col("cum").as("cum_tokens"),
        expr("cum * 1000000 DIV tot").as("coverage_ppm"))
      .orderBy(col("k"))
  }

  /** Dedup FUNNEL — the three dedup tiers run as a cascade, the way a
    * production corpus actually passes through them (each tier only sees
    * the previous tier's survivors), with per-stage yield accounting:
    * (1) exact md5, (2) whitespace/case-normalized md5 (catches
    * formatting twins), (3) 12-token prefix rolling-hash clusters
    * (catches shared boilerplate openings — `text_rolling_hash`'s
    * detector as a dedup stage). Survivors are min-(doc_id, text)
    * struct-agg picks (the corpusClean idiom — map-side collapsible, no
    * sort window). The 4-row funnel readout is what a pipeline dashboard
    * shows: n_in → n_out → n_removed per stage.
    *
    * Scale: three digest-keyed hash-aggs, each over the previous
    * survivor set (monotonically shrinking); counts are 1-row aggs
    * unioned — no data-sized join anywhere. */
  def dedupFunnel(spark: SparkSession, dir: String): DataFrame = {
    val B = 257L
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .cache() // raw count + stage-1 input
    val s1 = base.groupBy(md5(col("text")).as("fp1"))
      .agg(min(struct(col("doc_id"), col("text"))).as("s"))
      .select(col("s.doc_id").as("doc_id"), col("s.text").as("text"))
      .cache() // stage-1 count + stage-2 input
    val s2 = s1.groupBy(
        md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")).as("fp2"))
      .agg(min(struct(col("doc_id"), col("text"))).as("s"))
      .select(col("s.doc_id").as("doc_id"), col("s.text").as("text"))
      .cache() // stage-2 count + stage-3 input
    val toks12 = slice(filter(tokens(col("text")), t => length(t) > 0), 1, 12)
    val tokHash = (t: Column) => conv(substring(md5(t), 1, 4), 16, 10).cast("long")
    val fp3 = aggregate(toks12, lit(0L), (acc, t) => (acc * B + tokHash(t)) % P)
    val s3 = s2.select(fp3.as("fp3")).distinct()
    def cnt(df: DataFrame, name: String) =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("rel"), col("n"))
    val c = cnt(base, "raw").unionByName(cnt(s1, "s1"))
      .unionByName(cnt(s2, "s2")).unionByName(cnt(s3, "s3"))
      .groupBy(lit(1).as("g"))
      .agg(max(when(col("rel") === "raw", col("n"))).as("n0"),
        max(when(col("rel") === "s1", col("n"))).as("n1"),
        max(when(col("rel") === "s2", col("n"))).as("n2"),
        max(when(col("rel") === "s3", col("n"))).as("n3"))
    val rows = Seq(("exact_md5", "n0", "n1"),
      ("normalized_md5", "n1", "n2"), ("prefix_cluster", "n2", "n3"))
    rows.zipWithIndex.map { case ((nm, i0, i1), idx) =>
      c.select(lit(idx + 1L).as("stage_no"), lit(nm).as("stage"),
        col(i0).as("n_in"), col(i1).as("n_out"),
        (col(i0) - col(i1)).as("n_removed"))
    }.reduce(_.unionByName(_)).orderBy(col("stage_no"))
  }

  /** Dataset CARD — the per-source "datasheet for datasets" row (Gebru et
    * al. 2021 made the practice standard): volume (docs/tokens/chars),
    * language spread (distinct langs + dominant one), duplication
    * (1 − distinct-md5/docs in ppm), and density (tokens per doc) — the
    * one-relation summary a data consumer reads before training on a
    * source. Composes the catalog's primitives into one wide readout;
    * all integer/ppm, dominant language tie-broken by name via
    * min(struct(-n, lang)) — a hash-agg, no rank window.
    *
    * Scale: one token-counting projection + two (source[, lang/digest])
    * hash-aggs; output is |sources| rows. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"), col("lang"), col("text"),
        size(filter(tokens(col("text")), t => length(t) > 0)).cast("long")
          .as("n_toks"),
        length(col("text")).cast("long").as("n_chars"),
        md5(col("text")).as("fp"))
      .cache() // volume, language, and dup facets all read it
    val vol = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"),
      sum(col("n_toks")).as("n_tokens"), sum(col("n_chars")).as("n_chars"))
    val langs = d.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_langs"),
        min(struct((-col("n")).as("neg"), col("lang"))).as("w"))
      .select(col("source"), col("n_langs"), col("w.lang").as("top_lang"))
    val dups = d.groupBy(col("source"))
      .agg(count(lit(1)).as("nd"), countDistinct(col("fp")).as("nu"))
      .select(col("source"),
        expr("(nd - nu) * 1000000 DIV nd").as("dup_ppm"))
    vol.join(langs, "source").join(dups, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        expr("n_tokens DIV n_docs").as("tokens_per_doc"),
        col("n_langs"), col("top_lang"), col("dup_ppm"))
      .orderBy(col("source"))
  }

  /** N-gram NOVELTY scoring — per source, what share of each document's
    * distinct trigrams had never appeared in any EARLIER document
    * (doc_id order = ingest order): the cheap novelty filter data-
    * curation pipelines run to down-weight recombinated/templated text
    * before training (the deterministic core of novelty-based selection;
    * `pipe_dsir_weights` is its model-based sibling). First occurrence
    * is a min(doc_id) hash-agg per trigram — no window, no ordering
    * shuffle — and per-doc novelty joins back on the trigram key.
    *
    * Scale: explode → (trigram, doc) distinct → trigram-key agg + join —
    * the word-count shuffle shape on a bigger key space; the source
    * rollup is tiny. All integer ppm. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val toksC = filter(tokens(col("text")), t => length(t) > 0)
    val n2 = greatest(size(toksC) - 2, lit(0))
    val tri = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), explode(zip_with(
        slice(toksC, lit(1), n2), zip_with(
          slice(toksC, lit(2), n2), slice(toksC, lit(3), n2),
          (b, c) => concat_ws(" ", b, c)),
        (a, bc) => concat_ws(" ", a, bc))).as("tri"))
      .distinct()
      .cache() // first-occurrence agg + the join-back both read it
    val first = tri.groupBy(col("tri")).agg(min(col("doc_id")).as("first_doc"))
    tri.join(first, "tri")
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_trigrams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("source"), col("n_docs"), col("n_trigrams"), col("n_novel"),
        expr("n_novel * 1000000 DIV n_trigrams").as("novelty_ppm"))
      .orderBy(col("source"))
  }

  /** Lexical diversity per source — type-token ratio and hapax-legomenon
    * share, the corpus-QA readout that flags template/boilerplate
    * sources (low TTR, few hapaxes) vs organic text before training
    * (`text_zipf_fit`'s tail-health companion). Two-stage agg: (source,
    * word) counts collapse map-side, then a source rollup; all integer
    * ppm via positive DIV. */
  def hapaxRatio(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("source"),
        explode(filter(tokens(col("text")), t => length(t) > 0)).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("n") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("n_types * 1000000 DIV n_tokens").as("ttr_ppm"),
        expr("n_hapax * 1000000 DIV n_types").as("hapax_ppm"))
      .orderBy(col("source"))
  }

  /** Largest-remainder (Hamilton) apportionment of a fixed sampling
    * budget: B=10,000 training slots split across sources proportionally
    * to document counts, fractional seats resolved by largest remainder
    * (ties by source name) — the EXACT integer quota rule behind
    * `pipe_mixture_sample`'s proportional draws, guaranteed to sum to B
    * with no float drift: base_i = n_i·B DIV T, and the R = B − Σ base_i
    * leftover slots go to the R largest n_i·B MOD T remainders. Every
    * step is positive integer arithmetic.
    *
    * Scale: one source hash-agg, then |sources|-sized windows (grouped
    * input) — constant-size after the first pass. n_i·B needs
    * n_i < 9.2e14 at B=10⁴ before bigint wraps; document or scale B. */
  def quotaApportion(spark: SparkSession, dir: String): DataFrame = {
    val budget = 10000L
    val counts = Tables.documents(spark, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(col("n_docs")).as("t"))
    val based = counts.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        expr(s"n_docs * $budget DIV t").as("base"),
        expr(s"n_docs * $budget % t").as("rem"))
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val wRem = Window.orderBy(desc("rem"), col("source"))
    based
      .withColumn("leftover", lit(budget) - sum(col("base")).over(wAll))
      .withColumn("rk", row_number().over(wRem))
      .select(col("source"), col("n_docs"), col("base"), col("rem"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("quota"))
      .orderBy(col("source"))
  }

  /** PMI collocations (Church & Hanks 1990) — the bigrams that co-occur
    * far beyond chance, ln(c_xy·M²/(N·c_x·c_y)) with min-support 5: the
    * phrase detector (word2vec's phrase pass, collocation extraction)
    * next to `text_bigram_pairs`' raw counts, which rank "of the"-style
    * frequency, not association. Counts are exact integers from two
    * hash-aggs (zip_with pair generation — no per-doc sort window); the
    * single ln() is libm, so the score is round-6 (the decimal-lattice
    * ulp absorber) BEFORE the ordering, making the top-20 deterministic.
    * The PMI argument is one fixed mul/div IEEE chain on exact counts.
    *
    * Scale: explode → (x,y)-key hash-agg (map-side partials collapse the
    * Zipf head), two broadcast-eligible unigram joins keyed on each side,
    * 1-row totals broadcast (A4), TakeOrderedAndProject top-20. */
  def pmiBigrams(spark: SparkSession, dir: String): DataFrame = {
    val toksC = filter(tokens(col("text")), t => length(t) > 0)
    val n1 = greatest(size(toksC) - 1, lit(0))
    val d = Tables.documents(spark, dir)
    val uni = d.select(explode(toksC).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c")).cache()
    val biAll = d.select(explode(zip_with(
        slice(toksC, lit(1), n1), slice(toksC, lit(2), n1),
        (a, b) => struct(a.as("x"), b.as("y")))).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c_xy"))
      .cache() // N total reads it + the min-support survivors join it
    val bi = biAll.filter(col("c_xy") >= 5)
    // N = ALL bigram occurrences (the p(xy) denominator) — summing the
    // filtered survivors instead would bias every probability upward
    val tots = uni.agg(sum(col("c")).as("m"))
      .crossJoin(broadcast(biAll.agg(sum(col("c_xy")).as("n_bi"))))
    bi.join(uni.select(col("w").as("x"), col("c").as("c_x")), "x")
      .join(uni.select(col("w").as("y"), col("c").as("c_y")), "y")
      .crossJoin(broadcast(tots))
      .select(concat_ws(" ", col("x"), col("y")).as("bigram"),
        col("c_xy"), col("c_x"), col("c_y"),
        round(log(col("c_xy").cast("double") * col("m").cast("double") *
          col("m").cast("double") / (col("n_bi").cast("double") *
            col("c_x").cast("double") * col("c_y").cast("double"))), 6)
          .as("pmi"))
      .orderBy(desc("pmi"), col("bigram"))
      .limit(20)
  }

  /** Incremental-ingest dedup — the daily shape of exact dedup: a NEW
    * batch is accepted only where its content digest is absent from the
    * HISTORICAL corpus. Historical = even doc_ids; the new batch = odd
    * doc_ids plus a deterministic re-delivery of 20% of the historical
    * docs (doc_id ≡ 0 mod 10) — the duplicate-delivery case this gate
    * exists for. One digest-keyed left join against the distinct
    * historical digests, then a per-source accept/reject rollup. At
    * 100 TB only the day's batch shuffles in full; the historical side
    * is a digest projection (in practice a bucketed digest index or
    * bloom pre-filter — the RuntimeFilterSpec lever). */
  def incrementalIngest(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).withColumn("digest", md5(col("text")))
      .cache() // real 3× reuse: fresh-odd, re-delivered, and seen branches
    val hist = d.filter(col("doc_id") % 2 === 0)
    val fresh = d.filter(col("doc_id") % 2 === 1)
      .unionByName(hist.filter(col("doc_id") % 10 === 0))
    val seen = hist.select(col("digest")).distinct().withColumn("seen", lit(1))
    fresh.join(seen, Seq("digest"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_new"),
        count(when(col("seen").isNull, 1)).as("n_accepted"),
        count(col("seen")).as("n_rejected"))
      .orderBy(col("source"))
  }

  /** Per-domain document cap — the corpus-balancing op every web-scale
    * training pipeline runs (don't let one crawl domain dominate the
    * mixture): keep at most 5 documents per source, chosen by a
    * DETERMINISTIC uniform hash (`md5(doc_id)`) so the "sample" is a pure
    * function of the data — rerun-stable, partitioning-invariant, and
    * fully hash-oracleable where a seeded `sample()` could only be
    * spec-gated (same stance as `etl_hash_split`).
    *
    * Scale: one per-key window (PARTITION BY source) — the partitioned-sort
    * shape every catalog survivor-dedup already uses; no global sort, no
    * driver state. A pathologically hot domain pays a spill-backed sort of
    * its own group only; the md5 pick order means the cap could also ride
    * the bounded-state TopKKeys aggregator unchanged if group sorts ever
    * dominated. */
  def domainCap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val w = Window.partitionBy(col("source")).orderBy(col("pick"), col("doc_id"))
    d.withColumn("pick", md5(col("doc_id").cast("string")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("source"), col("rn"), col("doc_id"))
      .orderBy(col("source"), col("rn"))
  }

  /** Normalization-aware dedup audit: how many duplicate documents does
    * aggressive text normalization (casefold + collapse every non-
    * alphanumeric run to one space + trim) surface that raw byte-hashing
    * misses? Reports, per source, the raw-distinct vs normalized-distinct
    * fingerprint counts; the difference is the near-dup mass recoverable by
    * normalization alone — the cheapest rung of the dedup ladder, below
    * MinHash/SimHash.
    *
    * Both distinct counts are two-stage hash-aggs ((source, fp) partials →
    * per-source rollup), not countDistinct — no Expand, shuffle bounded by
    * |distinct fingerprints|. Regex is in the Java∩RE2 common subset with
    * DuckDB's 'g' flag mirroring Java's replace-all (the text_pii_redact
    * precedent). */
  def normalizeDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"),
        md5(col("text")).as("fr"),
        md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))).as("fn"))
      .cache() // feeds both distinct chains
    val raw = d.groupBy(col("source"), col("fr"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"), count(lit(1)).as("n_raw_fp"))
    val norm = d.groupBy(col("source"), col("fn"))
      .agg(count(lit(1)).as("nn"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_norm_fp"))
    raw.join(norm, Seq("source"))
      .withColumn("n_norm_only_dups", col("n_raw_fp") - col("n_norm_fp"))
      .select(col("source"), col("n_docs"), col("n_raw_fp"),
        col("n_norm_fp"), col("n_norm_only_dups"))
      .orderBy(col("source"))
  }

  /** Deterministic mixture sampling — the data-mixing step of a training
    * pipeline: rebalance the corpus toward a TARGET mixture (uniform across
    * sources here) by sampling each over-represented source down at rate
    * `min(1, target_share·N / n_s)`. The accept test is a pure integer
    * hash threshold (Knuth multiplicative hash of doc_id vs
    * `floor(rate · 2^32)`), so unlike seeded `sample()` the kept set is a
    * function of the DATA — rerun/partitioning-invariant and fully
    * hash-oracleable (the `etl_hash_split` stance, extended to per-group
    * rates). Reports per source the target rate and the achieved rate.
    *
    * Scale: sizes are one hash-agg; the rate relation is |sources| rows —
    * legitimately broadcast at any corpus size; the accept test is a pure
    * projection. No shuffle of the corpus at all. */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val sizes = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val tot = sizes.agg(
      sum(col("n_docs")).as("n_total"), count(lit(1)).as("n_sources"))
    val rates = sizes.crossJoin(broadcast(tot))
      .withColumn("rate",
        least(lit(1.0),
          (col("n_total").cast("double") / col("n_sources")) / col("n_docs")))
      .withColumn("thresh", floor(col("rate") * lit(4294967296.0)))
      .select(col("source"), col("n_docs"), col("rate"), col("thresh"))
    val kept = d.join(broadcast(rates.select(col("source"), col("thresh"))), "source")
      .withColumn("h", (col("doc_id") * lit(2654435761L)) % lit(4294967296L))
      .groupBy(col("source"))
      .agg(count(when(col("h") < col("thresh"), 1)).as("n_kept"))
    rates.join(kept, Seq("source"))
      .select(col("source"), col("n_docs"), col("rate").as("target_rate"),
        col("n_kept"),
        (col("n_kept").cast("double") / col("n_docs")).as("achieved_rate"))
      .orderBy(col("source"))
  }

  /** Eval decontamination — the check every training pipeline must run
    * before trusting a benchmark: does any held-out document share a long
    * n-gram with the training set? Splits follow `etl_hash_split`'s
    * content-hash rule (md5 first hex e/f = held-out test, everything else
    * trains), shingles are guarded 5-word windows hashed with md5
    * (the `Dedup.shingled` construction, longer n for specificity), and a
    * held-out doc is contaminated if ANY of its shingles appears anywhere
    * in the training side. Reported per source with the eval denominator.
    *
    * Scale: train shingles collapse to a DISTINCT hash set (hash-agg);
    * detection is one semi-join of exploded eval shingles against it —
    * the standard industrial decontamination shape, linear in corpus size
    * with shuffle bounded by |distinct shingles|. The injected exact dups
    * make cross-split contamination non-empty by construction. */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val shingles = when(size(toks) >= 5,
      array_distinct(transform(sequence(lit(1), size(toks) - 4),
        i => md5(array_join(slice(toks, i, lit(5)), " ")))))
      .otherwise(array().cast("array<string>"))
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        substring(md5(col("text")), 1, 1).as("hx"),
        shingles.as("sh"))
      .cache() // feeds both split sides and the denominator
    val isEval = col("hx").isin("e", "f")
    val train = sh.filter(!isEval)
      .select(explode(col("sh")).as("g")).distinct()
    val eval_ = sh.filter(isEval)
      .select(col("doc_id"), col("source"), explode(col("sh")).as("g"))
    val contaminated = eval_.join(train, Seq("g"), "left_semi")
      .select(col("doc_id"), col("source")).distinct()
    val evalDocs = sh.filter(isEval)
      .groupBy(col("source")).agg(count(lit(1)).as("n_eval_docs"))
    val cont = contaminated
      .groupBy(col("source")).agg(count(lit(1)).as("n_contaminated"))
    evalDocs.join(cont, Seq("source"), "left")
      .withColumn("n_contaminated", coalesce(col("n_contaminated"), lit(0L)))
      .orderBy(col("source"))
  }

  /** Bloom-filter PREFILTER in front of an exact membership semi-join —
    * the runtime-filter pattern written out relationally: build a bitset
    * over the SMALL side's keys (eval-split lead fingerprints), broadcast
    * it, and discard most of the 100 TB probe side BEFORE any
    * key-shuffling join; then an exact semi-join on the survivors kills
    * the bloom's false positives. Bloom filters have NO false negatives
    * (every probe position of a true member was set by that very member,
    * computed by the same hash expressions), so the final answer provably
    * equals the plain exact semi-join — which is exactly what the oracle
    * runs, bloom-free. m=8192 bits / k=3 hashes (seeded by suffixing the
    * key) keeps the broadcast under a shuffle page; the candidate check is
    * "ALL k positions present": probe rows left-join the bitset and a doc
    * survives iff no position missed. BloomSpec pins the prefilter's
    * selectivity (candidates ≪ probe side) so the entry can't silently
    * degrade into scan-everything. */
  /** The prefilter's stages, split out so BloomSpec can pin selectivity:
    * (probe docs, bloom-surviving candidates, distinct eval fingerprints).
    * Candidate set ⊇ true matches (no false negatives) and ≪ probe set
    * (that's the point). */
  private[graft] def bloomStages(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val BloomBits = 8192
    val NumHashes = 3
    def positions(key: org.apache.spark.sql.Column) =
      array((1 to NumHashes).map(i =>
        pmod(xxhash64(concat(key, lit(s"#$i"))), lit(BloomBits.toLong))): _*)
    val lead = concat_ws(" ", slice(split(col("text"), " "), 1, 5))
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        substring(md5(col("text")), 1, 1).as("hx"), md5(lead).as("fp"))
    val isEval = col("hx").isin("e", "f")
    val evalFps = t.filter(isEval).select(col("fp")).distinct()
    val bits = evalFps.select(explode(positions(col("fp"))).as("pos"))
      .distinct().withColumn("hit", lit(1))
    val probeDocs = t.filter(!isEval)
      .select(col("doc_id"), col("source"), col("fp"))
    val probe = probeDocs
      .select(col("doc_id"), col("source"), col("fp"),
        explode(positions(col("fp"))).as("pos"))
    val candidates = probe.join(broadcast(bits), Seq("pos"), "left")
      .groupBy(col("doc_id"), col("source"), col("fp"))
      .agg((count(lit(1)) === count(col("hit"))).as("all_hit"))
      .filter(col("all_hit"))
    (probeDocs, candidates, evalFps)
  }

  def bloomPrefilter(spark: SparkSession, dir: String): DataFrame = {
    val (_, candidates, evalFps) = bloomStages(spark, dir)
    candidates.join(evalFps, Seq("fp"), "left_semi")
      .groupBy(col("source")).agg(count(lit(1)).as("n_matched"))
      .orderBy(col("source"))
  }

  /** The custom GENERATOR from SQL text (`graft.expressions.NGrams` via
    * LATERAL VIEW — the table-function face of the extension ladder, as
    * `sql_graft_dot` is for the scalar Expression): top-20 corpus bigrams
    * produced by the native 1→N generator, oracled against the same
    * bigrams built relationally in DuckDB. GenerateExec streams the
    * windows straight into the hash-agg; no per-doc array is ever
    * materialized. */
  def ngramGenerator(spark: SparkSession, dir: String): DataFrame =
    Sql.run(spark, Seq("documents" -> (s => Tables.documents(s, dir))),
      """SELECT ngram, COUNT(*) AS n
        |FROM documents LATERAL VIEW graft_ngrams(text, 2) t AS ngram
        |GROUP BY ngram
        |ORDER BY n DESC, ngram
        |LIMIT 20""".stripMargin)

  /** Gopher-style repetition quality signals (Rae et al. 2021 §A1.1:
    * "repetitious documents are low quality"): per document, the
    * duplicate-word fraction and the fraction of words covered by the
    * single most frequent 2-gram, plus the resulting filter flag. These
    * are the two repetition rules that apply to single-line text (the
    * duplicate-LINE rules need newline structure this corpus lacks).
    *
    * Plan: n_words / n_distinct are pure projections over the token array
    * (no explode, no shuffle); only the bigram histogram shuffles, keyed
    * by (doc_id, pair) — map-side partials collapse each document's
    * repeats before the wire, then a second hash-agg reduces to the
    * per-doc max. Tie-break: max(struct(count, pair)) = highest count,
    * lexicographically largest pair — mirrored in the oracle's
    * ORDER BY c DESC, pair DESC. The fractions are ONE IEEE division of
    * exactly-representable integers (and one exact ×2.0) — bit-identical
    * across engines, so the boolean flag threshold is hash-safe. */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame = {
    val toks = filter(tokens(col("text")), t => length(t) > 0)
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        size(array_distinct(col("ws"))).cast("long").as("n_distinct"),
        col("ws"))
      .cache() // real 2× reuse: bigram-histogram branch + the final join side
    val n1 = greatest(size(col("ws")) - 1, lit(0))
    val top = base
      .select(col("doc_id"), explode(zip_with(
        slice(col("ws"), lit(1), n1), slice(col("ws"), lit(2), n1),
        (a, b) => concat_ws(" ", a, b))).as("pair"))
      .groupBy(col("doc_id"), col("pair")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("c"), col("pair"))).as("t"))
      .select(col("doc_id"),
        col("t.pair").as("top_bigram"), col("t.c").as("top_bigram_n"))
    base.select(col("doc_id"), col("n_words"), col("n_distinct"))
      .join(top, Seq("doc_id"))
      .select(
        col("doc_id"), col("n_words"), col("n_distinct"),
        ((col("n_words") - col("n_distinct")).cast("double") / col("n_words"))
          .as("dup_word_frac"),
        col("top_bigram"), col("top_bigram_n"),
        (lit(2.0) * col("top_bigram_n") / col("n_words")).as("top_bigram_frac"),
        (lit(2.0) * col("top_bigram_n") / col("n_words") > lit(0.2))
          .as("flag_repetitive"))
      .orderBy(col("doc_id"))
  }

  /** Quality-gate REASON CODES — the diagnosable half of corpus cleaning
    * (`pipe_corpus_clean` reports yields; this reports WHY docs die):
    * every document gets the first failing rule of an ordered decision
    * list (too_short → no_stopwords → repetitive → pass), and the report
    * rolls up (source, reason) counts — the table a data-quality triage
    * meeting actually looks at ("src3 loses 40% to repetition — crawler
    * bug?"). One pure projection (token counts are array ops, no explode)
    * + one hash-agg; output bounded by |sources|·|reasons|. The
    * repetition fraction is one IEEE division of exact ints, so the
    * threshold compare is engine-identical. */
  def reasonCodes(spark: SparkSession, dir: String): DataFrame = {
    val toks = filter(tokens(col("text")), t => length(t) > 0)
    val d = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars"),
        size(toks).cast("long").as("n"),
        size(array_distinct(toks)).cast("long").as("nd"),
        size(filter(toks, t => t.isin("the", "a"))).cast("long").as("n_stop"))
    d.select(col("source"),
        when(col("n_chars") < 150, "too_short")
          .when(col("n_stop") === 0, "no_stopwords")
          .when((col("n") - col("nd")).cast("double") / col("n") > 0.7, "repetitive")
          .otherwise("pass").as("reason"))
      .groupBy(col("source"), col("reason"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("reason"))
  }

  /** Exact-decimal feature/label rows for the relational LR trainer:
    * raw features f1 = type-token ratio, f2 = stopword ratio (round-6 of
    * one IEEE division of exact longs → DECIMAL, the module lattice
    * rule), then STANDARDIZED in-plan — one 1-row moment aggregate
    * (exact decimal Σf, Σf²) broadcast back, z = (f−μ)/σ re-rounded to 6
    * and re-lifted. Unstandardized GD stalls here (simulated: 3 steps at
    * any rate leave the all-negative predictor; z-scored, the same 3
    * steps reach ~93% accuracy) — the textbook conditioning lesson,
    * reproduced relationally. Label y = 1 iff the doc has ≥ 55 words:
    * length is NOT among the features, so the model genuinely learns the
    * diversity→length anticorrelation (long docs repeat vocabulary)
    * rather than re-deriving a rule of its own inputs. */
  private def lrDocs(spark: SparkSession, dir: String): DataFrame = {
    val toks = filter(tokens(col("text")), t => length(t) > 0)
    val raw = Tables.documents(spark, dir)
      .select(size(toks).cast("long").as("n"),
        size(array_distinct(toks)).cast("long").as("nd"),
        size(filter(toks, t => t.isin("the", "a"))).cast("long").as("n_stop"))
      .filter(col("n") > 0)
      .select(
        round(col("nd").cast("double") / col("n"), 6).cast("decimal(18,6)").as("f1r"),
        round(col("n_stop").cast("double") / col("n"), 6).cast("decimal(18,6)").as("f2r"),
        when(col("n") >= 55, lit(BigDecimal(1).setScale(6)))
          .otherwise(lit(BigDecimal(0).setScale(6)))
          .cast("decimal(18,6)").as("y"))
    val stats = raw.agg(count(lit(1)).as("m"),
      sum(col("f1r")).as("s1"), sum(col("f1r") * col("f1r")).as("s11"),
      sum(col("f2r")).as("s2"), sum(col("f2r") * col("f2r")).as("s22"))
    def zscore(f: String, s: String, ss: String) = {
      val mean = col(s).cast("double") / col("m")
      val variance = col(ss).cast("double") / col("m") - mean * mean
      when(variance > 0.0,
        round((col(f).cast("double") - mean) / sqrt(variance), 6))
        .otherwise(lit(0.0)) // constant feature carries no signal
        .cast("decimal(18,6)")
    }
    raw.crossJoin(broadcast(stats))
      .select(zscore("f1r", "s1", "s11").as("f1"),
        zscore("f2r", "s2", "s22").as("f2"), col("y"))
  }

  /** Per-doc sigmoid scores under a broadcast 1-row weight relation:
    * z = w0 + w1·f1 + w2·f2 is an EXACT decimal sum; the sigmoid is one
    * libm exp + IEEE division, re-rounded to 6 and re-lifted (the
    * survival-curve ln()/exp lattice rule), so every downstream gradient
    * sum is again exact decimal arithmetic. */
  private def lrScore(docs: DataFrame, w: DataFrame): DataFrame =
    docs.crossJoin(broadcast(w))
      .withColumn("z",
        (col("w0") + col("w1") * col("f1") + col("w2") * col("f2")).cast("double"))
      .withColumn("p",
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6).cast("decimal(18,6)"))

  /** One full-batch gradient-descent step at learning rate 2.0 (chosen by
    * offline simulation on the standardized features; see lrDocs):
    * gradient components are exact decimal sums of (p−y)·f, the update is
    * one IEEE multiply/divide chain re-rounded to 6 — the returned
    * relation is the next 1-row weight vector, exactly replayable by the
    * oracle. */
  private def lrStep(docs: DataFrame, w: DataFrame): DataFrame = {
    val g = lrScore(docs, w)
      .withColumn("r", col("p") - col("y"))
      .agg(count(lit(1)).as("m"),
        sum(col("r")).as("g0"),
        sum(col("r") * col("f1")).as("g1"),
        sum(col("r") * col("f2")).as("g2"))
    def upd(wc: String, gc: String) =
      round(col(wc).cast("double") - lit(2.0) * col(gc).cast("double") / col("m"), 6)
        .cast("decimal(18,6)").as(wc)
    w.crossJoin(broadcast(g))
      .select(upd("w0", "g0"), upd("w1", "g1"), upd("w2", "g2"))
      .cache() // 1 row — but consumed TWICE downstream (next step's scoring
               // AND its update), so an uncached chain re-derives every
               // earlier step: 2^K corpus scans for K steps (8 observed at
               // K=3 in the plan fingerprint). Memoizing each step makes
               // the fit the K+1 linear passes batch GD is supposed to be.
  }

  /** Relational logistic regression — a fastText-style doc classifier
    * TRAINED inside the engine: in-plan feature standardization, then
    * three unrolled full-batch GD steps over (type-token ratio, stopword
    * ratio) → P(doc ≥ 55 words) — the `text_bpe_merges` unrolled-trainer
    * pattern applied to model fitting, with the conditioning lesson live
    * (see lrDocs: unstandardized, the identical 3 steps stay degenerate;
    * z-scored they reach ~93%/~91% accuracy at sf0.01/0.1 with w1
    * strongly negative — lexical diversity anticorrelates with length).
    * Zero-initialized weights make step 1's sigmoid EXACTLY 0.500000 in
    * both engines (no libm involved at the start), and every later step
    * re-enters the decimal lattice through round-6, so the whole fit —
    * weights AND the confusion counts of the final model at threshold
    * 0.5 — hash-matches the DuckDB oracle that replays the identical
    * standardization and three steps as a CTE chain. Output: final
    * weights (round-6 doubles) + n_docs / n_pos_label / n_pos_pred /
    * n_correct (exact longs).
    *
    * Scale: each step is ONE corpus hash-agg producing a 1-row gradient
    * (map-side partials collapse everything before the shuffle) plus a
    * broadcast of 3 numbers back — the classic data-parallel batch-GD
    * layout; K steps = K linear passes, nothing driver-side, nothing
    * that grows with the corpus but the scan. */
  def qualityLr(spark: SparkSession, dir: String): DataFrame = {
    val docs = lrDocs(spark, dir)
      .cache() // scanned by 3 GD steps + the final evaluation pass
    val zero = lit(BigDecimal(0).setScale(6)).cast("decimal(18,6)")
    val w0 = docs.sparkSession.range(1)
      .select(zero.as("w0"), zero.as("w1"), zero.as("w2"))
    val wFinal = lrStep(docs, lrStep(docs, lrStep(docs, w0)))
    lrScore(docs, wFinal)
      .withColumn("pred",
        (col("p") >= lit(BigDecimal("0.5").setScale(6))).cast("long"))
      .agg(
        first(round(col("w0").cast("double"), 6)).as("w0"),
        first(round(col("w1").cast("double"), 6)).as("w1"),
        first(round(col("w2").cast("double"), 6)).as("w2"),
        count(lit(1)).as("n_docs"),
        sum(col("y").cast("long")).as("n_pos_label"),
        sum(col("pred")).as("n_pos_pred"),
        sum((col("pred") === col("y").cast("long")).cast("long")).as("n_correct"))
  }

  /** EXACT ROC-AUC of the relational quality classifier — the
    * threshold-free companion of `pipe_quality_lr`'s 0.5-threshold
    * confusion counts: AUC is the probability a random positive outranks
    * a random negative, which is EXACTLY the Mann–Whitney U statistic
    * normalized — AUC = U/(n_pos·n_neg) — so the experimentation
    * module's doubled-midrank machinery computes it with NO floats:
    * score histogram (sigmoid outputs are already round-6 decimals, so
    * ties are well-defined), two-pass range-partitioned prefix sums
    * (`Behavior.rangePrefixSums` — no data-sized unpartitioned window
    * even at 10⁶ distinct scores), 2·midrank = 2·lt + t + 1, and the
    * final AUC in integer micro-units via `u2·500000 DIV (n_pos·n_neg)`
    * (u2 = 2U absorbs the ½ from tied midranks). Degenerate labels
    * (single class) → NULL AUC, mirrored in the oracle. Everything
    * upstream replays `pipe_quality_lr`'s exact 3-step GD fit. */
  def qualityAuc(spark: SparkSession, dir: String): DataFrame = {
    val docs = lrDocs(spark, dir)
      .cache() // 3 GD steps + the scoring pass
    val zero = lit(BigDecimal(0).setScale(6)).cast("decimal(18,6)")
    val w0 = docs.sparkSession.range(1)
      .select(zero.as("w0"), zero.as("w1"), zero.as("w2"))
    val wFinal = lrStep(docs, lrStep(docs, lrStep(docs, w0)))
    val hist = lrScore(docs, wFinal)
      .groupBy(col("p").as("yv"))
      .agg(count(lit(1)).as("t"), sum(col("y").cast("long")).as("t_a"))
    val ranked = Behavior.rangePrefixSums(hist, "yv", Seq("t"))
      .withColumn("lt", col("lt_t"))
    val s = ranked.agg(
      sum(col("t")).as("n"),
      sum(col("t_a")).as("n_a"),
      sum((lit(2L) * col("lt") + col("t") + lit(1L)) * col("t_a")).as("r2sum_a"))
    // quotient-then-remainder micro conversion: u2 itself is safe to
    // ~4×10⁹ docs, and (u2 % d)·5×10⁵ to a ~10¹³ pair product — past
    // that an extreme-scale deployment lifts the remainder term to
    // decimal(38), the CUPED stance
    s.withColumn("u2", col("r2sum_a") - col("n_a") * (col("n_a") + lit(1L)))
      .withColumn("n_neg", col("n") - col("n_a"))
      .select(col("n_a").as("n_pos"), col("n_neg"), col("u2"),
        when(col("n_a") > 0 && col("n_neg") > 0,
          expr("(u2 DIV (n_a * n_neg)) * 500000" +
            " + (u2 % (n_a * n_neg)) * 500000 DIV (n_a * n_neg)"))
          .as("auc_micro"))
  }

  /** Calibration (reliability) table of the relational quality
    * classifier — the third leg of the eval suite after the confusion
    * counts (`pipe_quality_lr`) and the exact AUC (`pipe_quality_auc`):
    * a model can rank perfectly yet lie about probabilities, and a data
    * pipeline that THRESHOLDS on p needs the predicted-vs-empirical
    * curve before trusting any cutoff. Scores bucket into deciles of p
    * (floor(p·10), clamped — floor() explicitly on both engines: a bare
    * decimal→bigint cast truncates in Spark but rounds in DuckDB);
    * per-bucket mean predicted probability comes out in EXACT integer
    * micro-units (Σp is an exact decimal of round-6 sigmoids, ×10⁶ is
    * integral) against the empirical positive rate in basis points —
    * integers end to end, no float compare on a bucket edge. */
  def qualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    val docs = lrDocs(spark, dir)
      .cache() // 3 GD steps + the scoring pass
    val zero = lit(BigDecimal(0).setScale(6)).cast("decimal(18,6)")
    val w0 = docs.sparkSession.range(1)
      .select(zero.as("w0"), zero.as("w1"), zero.as("w2"))
    val wFinal = lrStep(docs, lrStep(docs, lrStep(docs, w0)))
    lrScore(docs, wFinal)
      .withColumn("bucket",
        least(floor(col("p") * lit(10)).cast("long"), lit(9L)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("y").cast("long")).as("n_pos"),
        sum(col("p")).as("sum_p"))
      .withColumn("mean_p_micro",
        expr("CAST(sum_p * 1000000 AS BIGINT) DIV n_docs"))
      .withColumn("pos_rate_bp", expr("n_pos * 10000 DIV n_docs"))
      .select(col("bucket"), col("n_docs"), col("n_pos"),
        col("mean_p_micro"), col("pos_rate_bp"))
      .orderBy(col("bucket"))
  }

  /** Filter-threshold calibration sweep — the curve a corpus curator reads
    * BEFORE picking a quality cutoff (the FineWeb/Gopher methodology:
    * sweep the threshold, look at what survives, then freeze it). Score =
    * type-token ratio in integer milli-units (`nd·1000 DIV n` — the
    * `text_entropy` diversity signal, integer so no float compare sits on
    * a bucket edge), bucketed to 100-milli bins; one hash-agg collapses
    * the corpus to ≤11 bucket rows, then a descending cumulative window
    * over THOSE rows (the `win_grand_avg_diff` tiny-grouped-output window
    * stance) yields, for each candidate threshold, exactly how many docs
    * and words survive and the kept share in basis points. Integer-only
    * output. Scale: the corpus-sized work is one projection + one
    * B-bucket hash-agg (map-side partials); the window touches ≤11 rows
    * regardless of corpus size. */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val toks = filter(tokens(col("text")), t => length(t) > 0)
    val d = Tables.documents(spark, dir)
      .select(size(toks).cast("long").as("n"),
        size(array_distinct(toks)).cast("long").as("nd"))
      .filter(col("n") > 0)
      .select(expr("nd * 1000 DIV n").as("score_milli"), col("n"))
    val bins = d.groupBy(expr("score_milli DIV 100").as("bucket"))
      .agg(count(lit(1)).as("n_docs_bin"), sum(col("n")).as("n_words_bin"))
    val wCum = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bins
      .withColumn("n_docs_kept", sum(col("n_docs_bin")).over(wCum))
      .withColumn("n_words_kept", sum(col("n_words_bin")).over(wCum))
      .withColumn("kept_share_bp",
        expr("n_docs_kept * 10000 DIV sum(n_docs_bin) OVER ()"))
      .select((col("bucket") * 100).as("thr_milli"), col("n_docs_bin"),
        col("n_docs_kept"), col("n_words_kept"), col("kept_share_bp"))
      .orderBy(col("thr_milli"))
  }

  /** Token-budget batch packing — the step between a cleaned corpus and a
    * training run: documents are packed into fixed-token-budget batches.
    * The packing rule is deterministic and relational: within each SOURCE
    * shard (real pipelines pack per shard — a single global sequence would
    * serialize the corpus through one partition), docs are taken in doc_id
    * order, and a doc belongs to batch floor((running_total − 1) / budget)
    * — i.e. the batch its last token lands in. One per-shard window
    * cumulative sum + one hash-agg; every number is an exact integer.
    * Report: per (source, batch) doc count and token sum — the manifest a
    * data-loader consumes. */
  def tokenPacking(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val Budget = 500L
    val toks = size(filter(tokens(col("text")), t => length(t) > 0)).cast("long")
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), toks.as("n_tok"))
      // zero-token docs pack into no batch — and excluding them BEFORE the
      // window keeps `running` strictly positive, which is load-bearing for
      // portability: at running = 0, `(running - 1) div B` is 0 in Spark
      // (div truncates toward zero) but -1 under DuckDB's flooring `//` —
      // the same `/` vs `div` vs `//` rule sql_recursive_cte documents
      .filter(col("n_tok") > 0)
      .withColumn("running", sum(col("n_tok")).over(w))
      .select(col("source"),
        // `div`, not `/`: Column `/` on longs is true (double) division
        expr(s"(running - 1L) div $Budget").as("batch_id"),
        col("n_tok"))
      .groupBy(col("source"), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("source"), col("batch_id"))
  }

  /** Corpus concentration (Herfindahl–Hirschman index) per language — the
    * diversity metric a mixture designer reads before weighting sources
    * (HHI → 1: one source dominates; → 1/n: balanced). Σ(shareᵢ²) as
    * floats is summation-order-sensitive; rewritten EXACTLY as
    * Σnᵢ² / (Σnᵢ)² — two integer aggregates and ONE IEEE division — so the
    * index is bit-identical at any partitioning and under the hash gate.
    * Two chained hash-aggs, output bounded by |langs|. */
  def concentration(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_sources"),
        sum(col("n")).as("n_docs"),
        // cast each sum to double BEFORE the divide/multiply: both sums are
        // < 2^53 (exactly representable), so numerator, denominator, and
        // quotient are each ONE IEEE op on identical operands in both
        // engines. (At per-source counts beyond ~3e9 the n·n products
        // would need a decimal lift — same stance as Det.)
        (sum(col("n") * col("n")).cast("double")
          / (sum(col("n")).cast("double") * sum(col("n")).cast("double"))).as("hhi"))
      .orderBy(col("lang"))
  }

  /** Cross-source duplication matrix — mirror/syndication detection (the
    * within-source dedups can't see a doc that also lives on another
    * crawl source): for every source pair, how many LEAD-WINDOW
    * fingerprints (md5 of the first 5 tokens — the "same opening
    * paragraph" syndication signal; whole-text digests cross sources only
    * for verbatim mirrors) they share. Per fingerprint the DISTINCT
    * source set is collected (bounded by |sources|, sorted for
    * determinism), pairs are expanded from that tiny array — Σ|set|² per
    * fingerprint, never |docs|² — and one hash-agg builds the matrix.
    * Output bounded by |sources|². */
  def crossSourceDupes(spark: SparkSession, dir: String): DataFrame = {
    val lead = concat_ws(" ", slice(split(col("text"), " "), 1, 5))
    val perDigest = Tables.documents(spark, dir)
      .groupBy(md5(lead).as("digest"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) >= 2)
    perDigest
      .select(explode(col("srcs")).as("src_a"), col("srcs"))
      .select(col("src_a"), explode(col("srcs")).as("src_b"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared_digests"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Weighted sampling WITHOUT replacement at corpus scale — the
    * Efraimidis–Spirakis exponential-race trick: give every doc the key
    * `-ln(u)/w` (u uniform in (0,1], w = its weight) and keep the k
    * SMALLEST keys. The key is an Exp(w) race time, so the winner
    * distribution is exactly "draw proportional to weight, remove,
    * repeat" — but computed as one embarrassingly-parallel projection +
    * a top-k (TakeOrderedAndProject: per-partition bounded heaps, no
    * global sort, no driver pass), where the textbook sequential
    * algorithm is inherently serial. That reduction from "k dependent
    * draws" to "one top-k" is what makes weighted corpus subsampling
    * (quality-weighted pretraining mixes) feasible at 100 TB. u comes
    * from the md5 idiom, not rand(): deterministic under retry /
    * partition relayout, and replayable by the DuckDB oracle — the same
    * reproducibility contract as etl_hash_split. Weight = n_chars
    * (longer docs proportionally likelier). u ∈ (0,1] by the +1 shift,
    * so ln is always finite; doc_id tiebreak pins byte-identical
    * selection for duplicate texts. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val u = (conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long") + 1L)
      .cast("double") / lit(4294967296.0)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        (-log(u) / col("n_chars")).as("es_key"))
      .orderBy(col("es_key"), col("doc_id")).limit(50)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Conjunctive boolean retrieval (every-term-must-match) as
    * posting-list intersection by COUNTING: explode each doc's DISTINCT
    * tokens, keep only the query terms — the filter sits under the
    * shuffle, so wire cost is Σ|posting list of the query terms|, never
    * corpus token volume — then a doc qualifies iff its surviving-token
    * count equals the term count. One hash-agg replaces the k-way
    * posting-list zipper merge of a search engine, inherits map-side
    * partials, and needs no per-term join cascade (the naive relational
    * form — k self-joins — shuffles k× more and skews on common terms).
    * array_distinct before the explode keeps repeated terms from
    * double-counting (the HAVING n = k correctness trap). */
  def conjunctiveSearch(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("vector", "stream", "hash")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(array_distinct(tokens(col("text")))).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_hit"))
      .filter(col("n_hit") === terms.size)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Jensen–Shannon divergence between the unigram token distributions of
    * two corpus slices (doc_id parity as the stand-in for two DOMAINS —
    * web vs books, yesterday vs today) — the symmetric, bounded (≤ ln 2
    * nats) distribution-distance a mixture designer reads before setting
    * sampling weights, and a drift monitor's vocabulary-level companion
    * to `agg_psi_drift`. JS = ½·KL(p‖m) + ½·KL(q‖m), m = (p+q)/2,
    * computed over the UNION vocabulary: p or q may be 0 at a token
    * (m > 0 always — every vocab token occurs somewhere), so the per-side
    * terms are 0-guarded. Per-token terms are tiny at corpus vocab sizes,
    * so the libm lattice rounds at 9 decimals (not the usual 6) before
    * the exact DECIMAL(18,9) sum — the same determinism argument, finer
    * quantum. One |vocab|-key hash-agg (partial map-side) + a broadcast
    * 1-row total; output is a single audit row. */
  def jsDivergence(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select((col("doc_id") % 2).as("arm"),
        explode(filter(tokens(col("text")), t => length(t) > 0)).as("tok"))
    val counts = toks.groupBy(col("tok"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("c_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("c_b"))
    val tot = counts.agg(sum(col("c_a")).as("na"), sum(col("c_b")).as("nb"))
    val p = col("c_a").cast("double") / col("na").cast("double")
    val q = col("c_b").cast("double") / col("nb").cast("double")
    val m = (p + q) / lit(2.0)
    counts.crossJoin(broadcast(tot))
      .withColumn("term", round(
        when(col("c_a") > 0, p * log(p / m)).otherwise(lit(0.0)) * lit(0.5) +
          when(col("c_b") > 0, q * log(q / m)).otherwise(lit(0.0)) * lit(0.5), 9)
        .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .groupBy(col("na"), col("nb"))
      .agg(count(lit(1)).as("n_vocab"), sum(col("term")).as("js_d"))
      .select(col("na").as("n_tokens_a"), col("nb").as("n_tokens_b"),
        col("n_vocab"),
        col("js_d").cast("double").as("js_nats"),
        round(col("js_d").cast("double") / lit(math.log(2.0)), 6).as("js_bits"))
  }

  /** Gopher quality rules (Rae et al. 2021, Appendix A) — the published
    * rule set most open-corpus pipelines start from, applied per document
    * and rolled up per (lang, source) slice so a curator sees WHICH rule
    * kills WHICH slice. The computable-on-this-corpus subset, each rule
    * an exact INTEGER comparison (divisions scaled out — no float
    * thresholds anywhere):
    *   R1 word count ∈ [50, 100k]
    *   R2 mean word length ∈ [3, 10]       (3·W ≤ Σ|tok| ≤ 10·W)
    *   R3 '#' or '…' symbol-to-word ratio ≤ 0.1   (10·count ≤ W)
    *   R4 ≥80% of words contain a letter   (5·alpha ≥ 4·W)
    *   R5 ≥2 distinct stopwords present    (Gopher's "stop word" filter)
    * keep = all five. Scale: one projection over the scan (token counts
    * are higher-order functions, no explode) + a |slices|-key hash-agg. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val d = Tables.documents(spark, dir)
      .withColumn("toks", filter(tokens(col("text")), t => length(t) > 0))
      .withColumn("w", size(col("toks")).cast("long"))
      .withColumn("wchars",
        aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)))
      .withColumn("n_hash",
        (length(col("text")) - length(replace(col("text"), lit("#"), lit("")))).cast("long"))
      .withColumn("n_ellipsis",
        ((length(col("text")) - length(replace(col("text"), lit("..."), lit("")))) / 3).cast("long"))
      .withColumn("n_alpha",
        size(filter(col("toks"), t => t.rlike("[a-zA-Z]"))).cast("long"))
      .withColumn("n_stopw",
        size(array_intersect(array_distinct(col("toks")),
          array(stop.map(lit(_)): _*))).cast("long"))
      .withColumn("r1", (col("w") >= 50 && col("w") <= 100000).cast("long"))
      .withColumn("r2",
        (lit(3L) * col("w") <= col("wchars") &&
          col("wchars") <= lit(10L) * col("w")).cast("long"))
      .withColumn("r3",
        (lit(10L) * col("n_hash") <= col("w") &&
          lit(10L) * col("n_ellipsis") <= col("w")).cast("long"))
      .withColumn("r4", (lit(5L) * col("n_alpha") >= lit(4L) * col("w")).cast("long"))
      .withColumn("r5", (col("n_stopw") >= 2).cast("long"))
      .withColumn("keep",
        (col("r1") + col("r2") + col("r3") + col("r4") + col("r5") === 5).cast("long"))
    d.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(lit(1L) - col("r1")).as("fail_wordcount"),
        sum(lit(1L) - col("r2")).as("fail_wordlen"),
        sum(lit(1L) - col("r3")).as("fail_symbols"),
        sum(lit(1L) - col("r4")).as("fail_alpha"),
        sum(lit(1L) - col("r5")).as("fail_stopwords"),
        sum(col("keep")).as("n_keep"))
      .orderBy(col("lang"), col("source"))
  }

  /** C4 cleaning rules (Raffel et al. 2020, §2.2) — the OTHER canonical
    * published filter set, complementing [[gopherRules]]: C4 targets
    * web-scrape artifacts where Gopher targets statistical gibberish.
    * The document-level subset, all exact string predicates:
    *   R1 no '{'            (code/JSON page)
    *   R2 no "lorem ipsum"  (template placeholder, case-insensitive)
    *   R3 no "javascript"   (enable-JS boilerplate, case-insensitive)
    *   R4 ends with terminal punctuation (. ! ? ") after rtrim
    *   R5 ≥3 sentence terminators (. ! ?) — the ≥3-sentences proxy
    * keep = all five; per-(lang, source) rollup, same audit shape as the
    * Gopher entry. One projection + one bounded hash-agg. */
  def c4Filters(spark: SparkSession, dir: String): DataFrame = {
    def occ(c: Column, s: String): Column =
      ((length(c) - length(replace(c, lit(s), lit("")))) / s.length).cast("long")
    val d = Tables.documents(spark, dir)
      .withColumn("lo", lower(col("text")))
      .withColumn("r1", (!col("text").contains("{")).cast("long"))
      .withColumn("r2", (!col("lo").contains("lorem ipsum")).cast("long"))
      .withColumn("r3", (!col("lo").contains("javascript")).cast("long"))
      .withColumn("r4",
        substring(rtrim(col("text")), -1, 1).isin(".", "!", "?", "\"").cast("long"))
      .withColumn("r5",
        (occ(col("text"), ".") + occ(col("text"), "!") + occ(col("text"), "?") >= 3)
          .cast("long"))
      .withColumn("keep",
        (col("r1") + col("r2") + col("r3") + col("r4") + col("r5") === 5).cast("long"))
    d.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(lit(1L) - col("r1")).as("fail_brace"),
        sum(lit(1L) - col("r2")).as("fail_lorem"),
        sum(lit(1L) - col("r3")).as("fail_js"),
        sum(lit(1L) - col("r4")).as("fail_endpunct"),
        sum(lit(1L) - col("r5")).as("fail_sentences"),
        sum(col("keep")).as("n_keep"))
      .orderBy(col("lang"), col("source"))
  }

  /** Count-Min sketch over the corpus word stream — the MERGEABLE
    * frequency sketch next to `text_heavy_hitters`' Misra–Gries (MG
    * keeps candidates; CMS answers point queries for ANY word with a
    * one-sided error bound). Depth 4 × width 64; lane buckets from the
    * module's portable 60-bit md5 idiom (`md5(word#lane)`), so both
    * engines hash identically — no murmur/xxhash divergence. Builds the
    * 256-cell sketch from the per-word count relation (ONE token
    * hash-agg feeds both the sketch and the truth side), then point-
    * queries the true top-10 words: est = min over lanes of the hit
    * cell, and the emitted `overcount = est − true ≥ 0` exhibits the
    * CMS guarantee live under the oracle's hash gate.
    *
    * Scale: the sketch build is exactly the aggregation CMS exists for —
    * a 4·|vocab|-row lane expansion collapsing into 256 cells with
    * map-side partials (the sketch IS the partial-agg state; executors
    * merge 256-long arrays, never the vocabulary); the query side is a
    * 40-row broadcast join. */
  def cmsSketch(spark: SparkSession, dir: String): DataFrame = {
    val laneBucket =
      expr("cast(conv(substring(md5(concat(word, '#', cast(j as string))), 1, 15), 16, 10) as bigint) % 64")
    val wc = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .cache() // sketch build + truth top-10 both read it
    val sketch = wc
      .withColumn("j", explode(sequence(lit(1), lit(4))))
      .withColumn("bucket", laneBucket)
      .groupBy(col("j"), col("bucket")).agg(sum(col("n")).as("cnt"))
    val top = wc.orderBy(desc("n"), col("word")).limit(10)
    top
      .withColumn("j", explode(sequence(lit(1), lit(4))))
      .withColumn("bucket", laneBucket)
      .join(broadcast(sketch), Seq("j", "bucket"))
      .groupBy(col("word"), col("n"))
      .agg(min(col("cnt")).as("est_n"))
      .select(col("word"), col("n").as("true_n"), col("est_n"),
        (col("est_n") - col("n")).as("overcount"))
      .orderBy(desc("true_n"), col("word"))
  }

  /** Flesch reading-ease report per source — the classic readability
    * quality signal (Gopher/C4-style rule sets gate on it) computed with
    * a deterministic vowel-group syllable heuristic (`[aeiouy]+` runs —
    * no dictionary, portable to both engines' regex). The fixture's
    * synthetic text has no sentence punctuation, so each document is
    * one "sentence" (words-per-sentence ≡ words-per-doc) — stated
    * rather than faked. The score enters the integer lattice whole:
    * wps/spw in exact milli via DIV, then
    * `206835 − 1015·wps_milli DIV 1000 − 84600·spw_milli DIV 1000`
    * (all operands positive, truncation mirrored) — no floats at all.
    *
    * Scale: one token-stream pass with a per-token regexp count,
    * collapsing map-side into the |sources|-row report. */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .select(col("source"), regexp_count(col("word"), lit("[aeiouy]+")).cast("long").as("syl"))
    val docs = Tables.documents(spark, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"), sum(col("syl")).as("n_syllables"))
      .join(docs, Seq("source"))
      .withColumn("wps_milli", expr("n_words * 1000 DIV n_docs"))
      .withColumn("spw_milli", expr("n_syllables * 1000 DIV n_words"))
      .withColumn("flesch_milli",
        expr("206835 - 1015 * wps_milli DIV 1000 - 84600 * spw_milli DIV 1000"))
      .select(col("source"), col("n_docs"), col("n_words"), col("n_syllables"),
        col("wps_milli"), col("spw_milli"), col("flesch_milli"))
      .orderBy(col("source"))
  }

  /** Relational multinomial Naive Bayes — the second trained-in-plan
    * classifier next to `pipe_quality_lr`'s logistic regression: language
    * ID learned from unigram counts (train = doc_id%5≠0, test = the %5=0
    * fold), Laplace-smoothed, evaluated as a confusion matrix with
    * accuracy. Where `text_langid` HAND-CODES the n-gram heuristic, this
    * entry LEARNS the same decision from the training fold — the
    * supervised/heuristic contrast a pipeline A/Bs when labels exist.
    *
    * NB is the ideal relational learner: training IS aggregation (class
    * priors = one doc-count; likelihoods = one (class,word) count), and
    * scoring IS a join + sum. Determinism: every log term —
    * ln((T_cw+1)/(TT_c+V)) and the prior ln(N_c/N) — is one IEEE chain
    * on exact longs, round-9 → DECIMAL(18,9) (module libm-lattice rule);
    * a doc's class score is prior + Σ tf·term, an exact decimal sum, so
    * the argmax (ties → lang asc) compares exact decimals, not floats.
    * Out-of-vocabulary test tokens are dropped before scoring (the
    * standard production choice — smoothing covers UNSEEN-CLASS words,
    * vocab membership covers unseen words); test docs with no in-vocab
    * tokens still classify by prior alone via the doc-frame left join.
    *
    * Scale: two hash-aggs over the token stream (the word_count shape),
    * then scoring joins keyed on (class, word) with |classes|-bounded
    * fan-out; the final window is per-test-doc over |classes| rows.
    * Nothing driver-side, no iteration — one pass to train, one to
    * score. */
  def naiveBayes(spark: SparkSession, dir: String): DataFrame = {
    val dec9 = org.apache.spark.sql.types.DecimalType(18, 9)
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("text"))
    val toks = d.select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
    val train = toks.filter(col("doc_id") % 5 =!= 0)
    val test = toks.filter(col("doc_id") % 5 === 0)
    val classDocs = d.filter(col("doc_id") % 5 =!= 0)
      .groupBy(col("lang").as("c")).agg(count(lit(1)).as("n_docs"))
    val nTrain = classDocs.agg(sum(col("n_docs")).as("n_train"))
    val tokClass = train.groupBy(col("lang").as("c"), col("word"))
      .agg(count(lit(1)).as("t_cw"))
    val classToks = tokClass.groupBy(col("c")).agg(sum(col("t_cw")).as("tt_c"))
    val vocab = tokClass.select(col("word")).distinct()
    val vocabSize = vocab.agg(count(lit(1)).as("v"))
    val testTf = test.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .join(vocab, Seq("word")) // drop OOV before the class fan-out
    val expanded = testTf
      .crossJoin(broadcast(classDocs.select(col("c"))))
      .join(tokClass, Seq("c", "word"), "left")
      .join(broadcast(classToks), Seq("c"))
      .crossJoin(broadcast(vocabSize))
      .withColumn("contrib",
        col("tf").cast(org.apache.spark.sql.types.DecimalType(10, 0)) *
          round(log((coalesce(col("t_cw"), lit(0L)) + 1).cast("double") /
            (col("tt_c") + col("v")).cast("double")), 9).cast(dec9))
    val tokenScore = expanded.groupBy(col("doc_id"), col("c"))
      .agg(sum(col("contrib")).as("tok_score"))
    val priors = classDocs.crossJoin(broadcast(nTrain))
      .select(col("c"),
        round(log(col("n_docs").cast("double") / col("n_train").cast("double")), 9)
          .cast(dec9).as("prior9"))
    val framed = d.filter(col("doc_id") % 5 === 0).select(col("doc_id"), col("lang"))
      .crossJoin(broadcast(priors))
      .join(tokenScore, Seq("doc_id", "c"), "left")
      .select(col("doc_id"), col("lang"), col("c"),
        expr("prior9 + coalesce(tok_score, 0)").as("score"))
    val pred = framed
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("c"))))
      .filter(col("rn") === 1)
    pred.groupBy(col("lang").as("true_lang"), col("c").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("n_test", sum(col("n_docs")).over(Window.partitionBy(lit(1))))
      .withColumn("n_correct",
        sum(when(col("true_lang") === col("pred_lang"), col("n_docs")).otherwise(0L))
          .over(Window.partitionBy(lit(1))))
      .withColumn("accuracy_ppm", expr("n_correct * 1000000 div n_test"))
      .orderBy(col("true_lang"), col("pred_lang"))
  }

  /** RAKE keyword extraction (Rose et al. 2010) — the unsupervised
    * keyphrase scorer corpus curators run before topic labeling: candidate
    * phrases are maximal stopword-free token runs, each word scores
    * deg(w)/freq(w) over the candidate set (deg = Σ phrase length across
    * the word's occurrences — frequency plus co-occurrence), and a phrase
    * scores the sum of its member word scores. Candidates are capped at 4
    * tokens (the usual implementation cap; also bounds phrase-string width
    * at corpus scale).
    *
    * Determinism: everything is integer — word scores on the ppm lattice
    * via overflow-safe quotient-then-remainder division (`deg/freq ≤ 4`
    * by the cap, so the remainder path needs freq < 9.2e12 occurrences of
    * one word — documented bound), phrase scores exact BIGINT sums of ppm
    * terms, top-20 tie-broken by phrase text.
    *
    * Scale: phrase assembly is a per-doc running sum (window PARTITIONED
    * BY doc_id — never global) + a (doc, run)-key hash-agg; word stats and
    * phrase scoring run over the DISTINCT-phrase relation (vocabulary-
    * sized, cached for its two readers), not the corpus. */
  def rakeKeywords(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a")
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
      .withColumn("is_stop", col("word").isin(stop: _*).cast("long"))
    val phrases = toks
      .withColumn("grp", sum(col("is_stop")).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(col("is_stop") === 0)
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("len"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          s => s.getField("word"))).as("phrase"))
      .filter(col("len") <= 4)
    val occ = phrases.groupBy(col("phrase"), col("len"))
      .agg(count(lit(1)).as("n_occ"))
      .cache() // real 2x reuse: word stats + phrase scoring
    val members = occ.select(col("phrase"), col("len"), col("n_occ"),
      explode(split(col("phrase"), " ")).as("word"))
    val wscores = members.groupBy(col("word"))
      .agg(sum(col("n_occ")).as("freq"),
        sum(col("len") * col("n_occ")).as("deg"))
      .select(col("word"),
        (expr("deg DIV freq") * lit(1000000L) +
          expr("(deg % freq) * 1000000 DIV freq")).as("wscore_ppm"))
    members.join(wscores, "word")
      .groupBy(col("phrase"), col("len"), col("n_occ"))
      .agg(sum(col("wscore_ppm")).as("score_ppm"))
      .select(col("phrase"), col("len").as("n_words"), col("n_occ"),
        col("score_ppm"))
      .orderBy(desc("score_ppm"), col("phrase"))
      .limit(20)
  }

  /** Zipf-law fit — the corpus-health check read before trusting token
    * statistics: natural corpora follow freq ∝ rank^(−s) with s ≈ 1, so a
    * slope far from −1 (or a poor R²) flags template spam, dedup failure,
    * or synthetic text. OLS of ln(freq) on ln(rank) over the top-32
    * tokens (the head is where Zipf holds and where a bounded
    * TakeOrderedAndProject keeps the fit corpus-size-independent).
    *
    * Determinism: both ln() calls round to the DECIMAL(18,9) lattice,
    * products stay decimal so the five moment sums are exact; the
    * slope/intercept/R² divisions are the only IEEE ops, round-6 (the
    * corr_manual rule). The 32-row rank window is the documented-tiny
    * unpartitioned exception. Scale: one token hash-agg (map-side
    * partial) + top-32 + a 1-row fit. */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val top = Tables.documents(spark, dir)
      .select(explode(filter(tokens(col("text")), t => length(t) > 0)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(32)
    val pts = top
      .withColumn("rank", row_number().over(
        Window.partitionBy(lit(1)).orderBy(col("freq").desc, col("word"))).cast("long"))
      .select(
        round(log(col("rank").cast("double")), 9).cast(DecimalType(18, 9)).as("x"),
        round(log(col("freq").cast("double")), 9).cast(DecimalType(18, 9)).as("y"))
    pts.agg(
        count(lit(1)).as("n_points"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"),
        sum(col("x") * col("y")).cast("double").as("sxy"))
      .select(col("n_points"),
        round((col("n_points") * col("sxy") - col("sx") * col("sy"))
          / (col("n_points") * col("sxx") - col("sx") * col("sx")), 6)
          .as("zipf_slope"),
        round((col("sy") - col("sx") *
          ((col("n_points") * col("sxy") - col("sx") * col("sy"))
            / (col("n_points") * col("sxx") - col("sx") * col("sx"))))
          / col("n_points"), 6).as("intercept"),
        round(((col("n_points") * col("sxy") - col("sx") * col("sy"))
          * (col("n_points") * col("sxy") - col("sx") * col("sy")))
          / ((col("n_points") * col("sxx") - col("sx") * col("sx"))
            * (col("n_points") * col("syy") - col("sy") * col("sy"))), 6)
          .as("r2"))
  }

  /** T5-style span corruption (Raffel et al. 2020, §3.1.4) — the
    * denoising-objective EXAMPLE BUILDER: deterministic span starts
    * (md5(doc:pos) % 10 == 0, the geo_grid hash-uniform idiom — no RNG,
    * so the same corpus always yields the same examples), each start
    * masking a 3-token span over the surviving token stream; overlapping
    * starts merge into one span (single sentinel, the documented merge
    * rule). Output per doc: the INPUT side (unmasked tokens with each
    * span replaced by its ordinal sentinel <Xk>) and the TARGET side
    * (each sentinel followed by the tokens it hides) — exactly the
    * encoder/decoder pair a T5 pretraining batch feeds.
    *
    * Determinism: mask selection is pure hash arithmetic; both sides are
    * rebuilt by ordered aggregation over (position-keyed) token structs,
    * all-integer ordering keys. Scale: one projection + three per-doc
    * windows (PARTITIONED BY doc — never global) + one per-doc hash-agg;
    * output is |docs| rows. */
  def spanCorruption(spark: SparkSession, dir: String): DataFrame = {
    val spanLen = 3
    val wdoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val m = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
      .withColumn("is_start",
        (conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
          col("pos").cast("string"))), 1, 8), 16, 10).cast("long") % 10 === 0)
          .cast("long"))
      .withColumn("m",
        max(col("is_start")).over(wdoc.rowsBetween(-(spanLen - 1), 0)))
      .withColumn("begin",
        (col("m") === 1 &&
          coalesce(lag(col("m"), 1).over(wdoc), lit(0L)) === 0).cast("long"))
      .withColumn("sid", sum(col("begin")).over(wdoc))
    val sentinel = concat(lit("<X"), col("sid").cast("string"), lit(">"))
    def ordered(arr: Column) =
      concat_ws(" ", transform(array_sort(arr), s => s.getField("t")))
    m.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("m")).as("n_masked"),
        sum(col("begin")).as("n_spans"),
        ordered(collect_list(
          when(col("m") === 0, struct((col("pos") * 2).as("k"), col("word").as("t")))
            .when(col("begin") === 1,
              struct((col("pos") * 2).as("k"), sentinel.as("t")))))
          .as("input_text"),
        ordered(concat(
          collect_list(when(col("begin") === 1,
            struct((col("pos") * 2).as("k"), sentinel.as("t")))),
          collect_list(when(col("m") === 1,
            struct((col("pos") * 2 + 1).as("k"), col("word").as("t"))))))
          .as("target_text"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_span_corruption" -> (spanCorruption _),
    "text_zipf_fit" -> (zipfFit _),
    "text_rake_keywords" -> (rakeKeywords _),
    "ml_naive_bayes" -> (naiveBayes _),
    "text_cms_sketch" -> (cmsSketch _),
    "text_readability" -> (readability _),
    "text_js_divergence" -> (jsDivergence _),
    "text_gopher_rules" -> (gopherRules _),
    "text_c4_filters" -> (c4Filters _),
    "pipe_weighted_sample" -> (weightedSample _),
    "text_conj_search" -> (conjunctiveSearch _),
    "pipe_cross_source_dupes" -> (crossSourceDupes _),
    "pipe_mixture_hhi" -> (concentration _),
    "pipe_token_packing" -> (tokenPacking _),
    "pipe_reason_codes" -> (reasonCodes _),
    "pipe_threshold_sweep" -> (thresholdSweep _),
    "pipe_quality_lr" -> (qualityLr _),
    "pipe_quality_auc" -> (qualityAuc _),
    "pipe_quality_calibration" -> (qualityCalibration _),
    "text_repetition" -> (repetitionSignals _),
    "text_ngram_generator" -> (ngramGenerator _),
    "pipe_contamination" -> (contamination _),
    "pipe_bloom_prefilter" -> (bloomPrefilter _),
    "pipe_mixture_sample" -> (mixtureSample _),
    "pipe_domain_cap" -> (domainCap _),
    "text_normalize_dedup" -> (normalizeDedup _),
    "pipe_incremental_ingest" -> (incrementalIngest _),
    "text_bigram_pairs"  -> (bigramPairs _),
    "text_heavy_hitters" -> (heavyHitters _),
    "text_pii_redact"  -> (piiRedact _),
    "text_bm25"        -> (bm25Query _),
    "pipe_class_balance" -> (classBalance _),
    "text_rolling_hash" -> (rollingHash _),
    "text_winnowing" -> (winnowing _),
    "text_pmi_bigrams" -> (pmiBigrams _),
    "pipe_dedup_funnel" -> (dedupFunnel _),
    "text_vocab_coverage" -> (vocabCoverage _),
    "pipe_quota_apportion" -> (quotaApportion _),
    "text_hapax_ratio" -> (hapaxRatio _),
    "pipe_ngram_novelty" -> (ngramNovelty _),
    "pipe_dataset_card" -> (datasetCard _),
    "text_pivot_langs" -> (pivotLangs _),
    "text_unpivot_langs" -> (unpivotLangs _),
    "text_word_count"  -> (wordCount _),
    "text_blocklist"   -> (blocklistAudit _),
    "text_word_count_salted" -> (saltedWordCount _),
    "pipe_corpus_clean" -> (corpusClean _),
    "pipe_end_to_end" -> (endToEnd _),
    "text_token_stats" -> (tokenStats _),
    "text_quality"     -> (qualityScore _),
    "text_langid"      -> (langId _),
    "text_fingerprint" -> (fingerprint _),
    "text_tfidf"       -> (tfidfTopTerms _),
    "text_chunking"    -> (chunkDocuments _),
    "text_trigram_score" -> (trigramScore _),
    "pipe_chunk_dedup" -> (chunkDedup _),
    "pipe_dsir_weights" -> (dsirWeights _),
    "pipe_dsir_resample" -> (dsirResample _),
    "pipe_temperature_mix" -> (temperatureMix _),
    "text_entropy" -> (tokenEntropy _),
    "pipe_ccnet_buckets" -> (ccnetBuckets _),
    "text_bpe_merges" -> (bpeMerges _),
    "text_bpe_encode" -> (bpeEncode _)
  )

  /** The pipe_quality_lr CTE chain (standardized features, 3 GD
    * steps, final per-doc scores `pe` under weights `wd`), shared by
    * the LR entry's oracle and the AUC entry's rank statistics. */
  private lazy val qualityLrCtes: String =
    """raw AS (
        |  SELECT CAST(ROUND(nd::DOUBLE / n, 6) AS DECIMAL(18,6)) AS f1r,
        |    CAST(ROUND(n_stop::DOUBLE / n, 6) AS DECIMAL(18,6)) AS f2r,
        |    CAST(CASE WHEN n >= 55 THEN 1.000000 ELSE 0.000000 END
        |      AS DECIMAL(18,6)) AS y
        |  FROM (
        |    SELECT
        |      len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS n,
        |      len(list_distinct(
        |        list_filter(string_split(text, ' '), x -> len(x) > 0))) AS nd,
        |      len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the', 'a'))) AS n_stop
        |    FROM documents)
        |  WHERE n > 0),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
        |  SUM(f1r) AS s1, SUM(f1r * f1r) AS s11,
        |  SUM(f2r) AS s2, SUM(f2r * f2r) AS s22 FROM raw),
        |d AS (
        |  SELECT
        |    CAST(CASE WHEN (s11::DOUBLE / m - (s1::DOUBLE / m) * (s1::DOUBLE / m)) > 0
        |      THEN ROUND((f1r::DOUBLE - s1::DOUBLE / m) /
        |        sqrt(s11::DOUBLE / m - (s1::DOUBLE / m) * (s1::DOUBLE / m)), 6)
        |      ELSE 0.0 END AS DECIMAL(18,6)) AS f1,
        |    CAST(CASE WHEN (s22::DOUBLE / m - (s2::DOUBLE / m) * (s2::DOUBLE / m)) > 0
        |      THEN ROUND((f2r::DOUBLE - s2::DOUBLE / m) /
        |        sqrt(s22::DOUBLE / m - (s2::DOUBLE / m) * (s2::DOUBLE / m)), 6)
        |      ELSE 0.0 END AS DECIMAL(18,6)) AS f2,
        |    y
        |  FROM raw, st),
        |wa AS (SELECT CAST(0.000000 AS DECIMAL(18,6)) AS w0,
        |  CAST(0.000000 AS DECIMAL(18,6)) AS w1,
        |  CAST(0.000000 AS DECIMAL(18,6)) AS w2),
        |pa AS (
        |  SELECT d.*, CAST(ROUND(1.0 / (1.0 +
        |    exp(-((w.w0 + w.w1 * d.f1 + w.w2 * d.f2)::DOUBLE))), 6)
        |    AS DECIMAL(18,6)) AS p
        |  FROM d, wa w),
        |ga AS (SELECT COUNT(*) AS m, SUM(p - y) AS g0,
        |  SUM((p - y) * f1) AS g1, SUM((p - y) * f2) AS g2 FROM pa),
        |wb AS (SELECT
        |  CAST(ROUND(w.w0::DOUBLE - 2.0 * g.g0::DOUBLE / g.m, 6) AS DECIMAL(18,6)) AS w0,
        |  CAST(ROUND(w.w1::DOUBLE - 2.0 * g.g1::DOUBLE / g.m, 6) AS DECIMAL(18,6)) AS w1,
        |  CAST(ROUND(w.w2::DOUBLE - 2.0 * g.g2::DOUBLE / g.m, 6) AS DECIMAL(18,6)) AS w2
        |  FROM wa w, ga g),
        |pb AS (
        |  SELECT d.*, CAST(ROUND(1.0 / (1.0 +
        |    exp(-((w.w0 + w.w1 * d.f1 + w.w2 * d.f2)::DOUBLE))), 6)
        |    AS DECIMAL(18,6)) AS p
        |  FROM d, wb w),
        |gb AS (SELECT COUNT(*) AS m, SUM(p - y) AS g0,
        |  SUM((p - y) * f1) AS g1, SUM((p - y) * f2) AS g2 FROM pb),
        |wc AS (SELECT
        |  CAST(ROUND(w.w0::DOUBLE - 2.0 * g.g0::DOUBLE / g.m, 6) AS DECIMAL(18,6)) AS w0,
        |  CAST(ROUND(w.w1::DOUBLE - 2.0 * g.g1::DOUBLE / g.m, 6) AS DECIMAL(18,6)) AS w1,
        |  CAST(ROUND(w.w2::DOUBLE - 2.0 * g.g2::DOUBLE / g.m, 6) AS DECIMAL(18,6)) AS w2
        |  FROM wb w, gb g),
        |pc AS (
        |  SELECT d.*, CAST(ROUND(1.0 / (1.0 +
        |    exp(-((w.w0 + w.w1 * d.f1 + w.w2 * d.f2)::DOUBLE))), 6)
        |    AS DECIMAL(18,6)) AS p
        |  FROM d, wc w),
        |gc AS (SELECT COUNT(*) AS m, SUM(p - y) AS g0,
        |  SUM((p - y) * f1) AS g1, SUM((p - y) * f2) AS g2 FROM pc),
        |wd AS (SELECT
        |  CAST(ROUND(w.w0::DOUBLE - 2.0 * g.g0::DOUBLE / g.m, 6) AS DECIMAL(18,6)) AS w0,
        |  CAST(ROUND(w.w1::DOUBLE - 2.0 * g.g1::DOUBLE / g.m, 6) AS DECIMAL(18,6)) AS w1,
        |  CAST(ROUND(w.w2::DOUBLE - 2.0 * g.g2::DOUBLE / g.m, 6) AS DECIMAL(18,6)) AS w2
        |  FROM wc w, gc g),
        |pe AS (
        |  SELECT d.*, CAST(ROUND(1.0 / (1.0 +
        |    exp(-((w.w0 + w.w1 * d.f1 + w.w2 * d.f2)::DOUBLE))), 6)
        |    AS DECIMAL(18,6)) AS p
        |  FROM d, wd w)""".stripMargin

  val oracle: Map[String, String] = Map(
    "text_cms_sketch" ->
      """WITH w AS (
        |  SELECT word FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE length(word) > 0),
        |wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM w GROUP BY word),
        |lanes AS (
        |  SELECT word, n, j,
        |    CAST(('0x' || substr(md5(word || '#' || CAST(j AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 64 AS bucket
        |  FROM wc CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS j) g),
        |sk AS (SELECT j, bucket, SUM(n) AS cnt FROM lanes GROUP BY 1, 2),
        |top AS (SELECT word, n FROM wc ORDER BY n DESC, word LIMIT 10),
        |q AS (
        |  SELECT t.word, t.n, g.j,
        |    CAST(('0x' || substr(md5(t.word || '#' || CAST(g.j AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 64 AS bucket
        |  FROM top t CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS j) g),
        |e AS (
        |  SELECT q.word, q.n, MIN(sk.cnt) AS est_n
        |  FROM q JOIN sk ON sk.j = q.j AND sk.bucket = q.bucket
        |  GROUP BY q.word, q.n)
        |SELECT word, n AS true_n, CAST(est_n AS BIGINT) AS est_n,
        |  CAST(est_n - n AS BIGINT) AS overcount
        |FROM e ORDER BY true_n DESC, word""".stripMargin,
    "text_readability" ->
      """WITH w AS (
        |  SELECT source, word FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE length(word) > 0),
        |s AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
        |    CAST(SUM(len(regexp_extract_all(word, '[aeiouy]+'))) AS BIGINT)
        |      AS n_syllables
        |  FROM w GROUP BY source),
        |d AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY source),
        |m AS (
        |  SELECT s.source, d.n_docs, s.n_words, s.n_syllables,
        |    s.n_words * 1000 // d.n_docs AS wps_milli,
        |    s.n_syllables * 1000 // s.n_words AS spw_milli
        |  FROM s JOIN d ON d.source = s.source)
        |SELECT source, n_docs, n_words, n_syllables,
        |  CAST(wps_milli AS BIGINT) AS wps_milli,
        |  CAST(spw_milli AS BIGINT) AS spw_milli,
        |  CAST(206835 - 1015 * wps_milli // 1000 - 84600 * spw_milli // 1000
        |    AS BIGINT) AS flesch_milli
        |FROM m ORDER BY source""".stripMargin,
    "ml_naive_bayes" ->
      """WITH d AS (SELECT doc_id, lang, text FROM documents),
        |tok AS (
        |  SELECT doc_id, lang, word FROM (
        |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM d)
        |  WHERE length(word) > 0),
        |cd AS (
        |  SELECT lang AS c, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM d WHERE doc_id % 5 <> 0 GROUP BY 1),
        |nt AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_train FROM cd),
        |tc AS (
        |  SELECT lang AS c, word, CAST(COUNT(*) AS BIGINT) AS t_cw
        |  FROM tok WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
        |ct AS (SELECT c, CAST(SUM(t_cw) AS BIGINT) AS tt_c FROM tc GROUP BY c),
        |vb AS (SELECT DISTINCT word FROM tc),
        |vs AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vb),
        |ttf AS (
        |  SELECT t.doc_id, t.word, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM tok t JOIN vb ON vb.word = t.word
        |  WHERE t.doc_id % 5 = 0 GROUP BY 1, 2),
        |ex AS (
        |  SELECT f.doc_id, cls.c, f.tf, COALESCE(tc.t_cw, 0) AS t_cw,
        |    ct.tt_c, vs.v
        |  FROM ttf f
        |  CROSS JOIN (SELECT c FROM cd) cls
        |  LEFT JOIN tc ON tc.c = cls.c AND tc.word = f.word
        |  JOIN ct ON ct.c = cls.c
        |  CROSS JOIN vs),
        |ts AS (
        |  SELECT doc_id, c,
        |    SUM(tf::DECIMAL(10,0) *
        |      ROUND(ln((t_cw + 1)::DOUBLE / (tt_c + v)::DOUBLE), 9)::DECIMAL(18,9))
        |      AS tok_score
        |  FROM ex GROUP BY 1, 2),
        |pri AS (
        |  SELECT cd.c,
        |    ROUND(ln(cd.n_docs::DOUBLE / nt.n_train::DOUBLE), 9)::DECIMAL(18,9)
        |      AS prior9
        |  FROM cd CROSS JOIN nt),
        |fr AS (
        |  SELECT td.doc_id, td.lang, p.c,
        |    p.prior9 + COALESCE(ts.tok_score, 0) AS score
        |  FROM (SELECT doc_id, lang FROM d WHERE doc_id % 5 = 0) td
        |  CROSS JOIN pri p
        |  LEFT JOIN ts ON ts.doc_id = td.doc_id AND ts.c = p.c),
        |pred AS (
        |  SELECT doc_id, lang, c FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, c) AS rn
        |    FROM fr) WHERE rn = 1),
        |conf AS (
        |  SELECT lang AS true_lang, c AS pred_lang,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM pred GROUP BY 1, 2)
        |SELECT true_lang, pred_lang, n_docs,
        |  CAST(SUM(n_docs) OVER () AS BIGINT) AS n_test,
        |  CAST(SUM(CASE WHEN true_lang = pred_lang THEN n_docs ELSE 0 END)
        |    OVER () AS BIGINT) AS n_correct,
        |  CAST(SUM(CASE WHEN true_lang = pred_lang THEN n_docs ELSE 0 END)
        |    OVER () * 1000000
        |    // SUM(n_docs) OVER () AS BIGINT) AS accuracy_ppm
        |FROM conf ORDER BY true_lang, pred_lang""".stripMargin,
    "text_c4_filters" ->
      """WITH f AS (
        |  SELECT lang, source,
        |    CASE WHEN NOT contains(text, '{') THEN 1 ELSE 0 END AS r1,
        |    CASE WHEN NOT contains(lower(text), 'lorem ipsum') THEN 1 ELSE 0 END AS r2,
        |    CASE WHEN NOT contains(lower(text), 'javascript') THEN 1 ELSE 0 END AS r3,
        |    CASE WHEN right(rtrim(text), 1) IN ('.', '!', '?', '"')
        |      THEN 1 ELSE 0 END AS r4,
        |    CASE WHEN (length(text) - length(replace(text, '.', '')))
        |        + (length(text) - length(replace(text, '!', '')))
        |        + (length(text) - length(replace(text, '?', ''))) >= 3
        |      THEN 1 ELSE 0 END AS r5
        |  FROM documents)
        |SELECT lang, source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(1 - r1) AS BIGINT) AS fail_brace,
        |  CAST(SUM(1 - r2) AS BIGINT) AS fail_lorem,
        |  CAST(SUM(1 - r3) AS BIGINT) AS fail_js,
        |  CAST(SUM(1 - r4) AS BIGINT) AS fail_endpunct,
        |  CAST(SUM(1 - r5) AS BIGINT) AS fail_sentences,
        |  CAST(SUM(CASE WHEN r1 + r2 + r3 + r4 + r5 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
        |FROM f GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,
    "text_gopher_rules" ->
      """WITH d AS (
        |  SELECT lang, source,
        |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks,
        |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
        |    CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS n_ellipsis,
        |    text
        |  FROM documents),
        |r AS (
        |  SELECT lang, source,
        |    CAST(len(toks) AS BIGINT) AS w,
        |    CAST(COALESCE(list_sum(list_transform(toks, t -> length(t))), 0) AS BIGINT) AS wchars,
        |    n_hash, n_ellipsis,
        |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
        |    CAST(len(list_intersect(list_distinct(toks),
        |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stopw
        |  FROM d),
        |f AS (
        |  SELECT lang, source,
        |    CASE WHEN w >= 50 AND w <= 100000 THEN 1 ELSE 0 END AS r1,
        |    CASE WHEN 3 * w <= wchars AND wchars <= 10 * w THEN 1 ELSE 0 END AS r2,
        |    CASE WHEN 10 * n_hash <= w AND 10 * n_ellipsis <= w THEN 1 ELSE 0 END AS r3,
        |    CASE WHEN 5 * n_alpha >= 4 * w THEN 1 ELSE 0 END AS r4,
        |    CASE WHEN n_stopw >= 2 THEN 1 ELSE 0 END AS r5
        |  FROM r)
        |SELECT lang, source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(1 - r1) AS BIGINT) AS fail_wordcount,
        |  CAST(SUM(1 - r2) AS BIGINT) AS fail_wordlen,
        |  CAST(SUM(1 - r3) AS BIGINT) AS fail_symbols,
        |  CAST(SUM(1 - r4) AS BIGINT) AS fail_alpha,
        |  CAST(SUM(1 - r5) AS BIGINT) AS fail_stopwords,
        |  CAST(SUM(CASE WHEN r1 + r2 + r3 + r4 + r5 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
        |FROM f GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,
    "pipe_span_corruption" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |tok0 AS (
        |  SELECT doc_id, unnest(toks) AS word,
        |    unnest(generate_series(0, len(toks) - 1)) AS pos
        |  FROM base),
        |tok AS (
        |  SELECT doc_id, pos, word,
        |    CASE WHEN (('0x' || substr(md5(doc_id || ':' || pos), 1, 8))::BIGINT
        |        % 10) = 0
        |      THEN 1 ELSE 0 END AS is_start
        |  FROM tok0 WHERE length(word) > 0),
        |mm AS (
        |  SELECT *, MAX(is_start) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS m
        |  FROM tok),
        |bb AS (
        |  SELECT *, CASE WHEN m = 1 AND COALESCE(LAG(m) OVER (
        |      PARTITION BY doc_id ORDER BY pos), 0) = 0
        |    THEN 1 ELSE 0 END AS bg
        |  FROM mm),
        |ss AS (
        |  SELECT *, SUM(bg) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
        |  FROM bb),
        |inp AS (
        |  SELECT doc_id,
        |    string_agg(CASE WHEN m = 0 THEN word
        |      WHEN bg = 1 THEN '<X' || sid || '>' END, ' ' ORDER BY pos)
        |      AS input_text,
        |    CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(m) AS BIGINT) AS n_masked,
        |    CAST(SUM(bg) AS BIGINT) AS n_spans
        |  FROM ss GROUP BY doc_id),
        |tgt0 AS (
        |  SELECT doc_id, pos * 2 AS k, '<X' || sid || '>' AS t
        |  FROM ss WHERE bg = 1
        |  UNION ALL
        |  SELECT doc_id, pos * 2 + 1, word FROM ss WHERE m = 1),
        |tgt AS (
        |  SELECT doc_id, string_agg(t, ' ' ORDER BY k) AS target_text
        |  FROM tgt0 GROUP BY doc_id)
        |SELECT i.doc_id, i.n_tokens, i.n_masked, i.n_spans, i.input_text,
        |  COALESCE(t.target_text, '') AS target_text
        |FROM inp i LEFT JOIN tgt t USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "text_zipf_fit" ->
      """WITH freqs AS (
        |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(list_filter(string_split(text, ' '),
        |      x -> length(x) > 0)) AS word
        |    FROM documents)
        |  GROUP BY word),
        |top AS (
        |  SELECT word, freq FROM freqs
        |  ORDER BY freq DESC, word LIMIT 32),
        |pts AS (
        |  SELECT
        |    CAST(ROUND(ln(CAST(ROW_NUMBER() OVER
        |      (ORDER BY freq DESC, word) AS DOUBLE)), 9)
        |      AS DECIMAL(18,9)) AS x,
        |    CAST(ROUND(ln(CAST(freq AS DOUBLE)), 9)
        |      AS DECIMAL(18,9)) AS y
        |  FROM top),
        |s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
        |    CAST(SUM(x) AS DOUBLE) AS sx,
        |    CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx,
        |    CAST(SUM(y * y) AS DOUBLE) AS syy,
        |    CAST(SUM(x * y) AS DOUBLE) AS sxy
        |  FROM pts)
        |SELECT n_points,
        |  ROUND((n_points * sxy - sx * sy)
        |    / (n_points * sxx - sx * sx), 6) AS zipf_slope,
        |  ROUND((sy - sx * ((n_points * sxy - sx * sy)
        |    / (n_points * sxx - sx * sx))) / n_points, 6) AS intercept,
        |  ROUND(((n_points * sxy - sx * sy) * (n_points * sxy - sx * sy))
        |    / ((n_points * sxx - sx * sx) * (n_points * syy - sy * sy)), 6)
        |    AS r2
        |FROM s""".stripMargin,
    "text_rake_keywords" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |tok0 AS (
        |  SELECT doc_id, unnest(toks) AS word,
        |    unnest(generate_series(1, len(toks))) AS pos
        |  FROM base),
        |tok AS (
        |  SELECT doc_id, pos, word,
        |    CASE WHEN word IN ('the', 'a') THEN 1 ELSE 0 END AS is_stop
        |  FROM tok0 WHERE length(word) > 0),
        |grp AS (
        |  SELECT doc_id, pos, word, is_stop,
        |    SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM tok),
        |ph AS (
        |  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS len,
        |    string_agg(word, ' ' ORDER BY pos) AS phrase
        |  FROM grp WHERE is_stop = 0
        |  GROUP BY doc_id, g
        |  HAVING COUNT(*) <= 4),
        |occ AS (
        |  SELECT phrase, len, CAST(COUNT(*) AS BIGINT) AS n_occ
        |  FROM ph GROUP BY phrase, len),
        |mem AS (
        |  SELECT phrase, len, n_occ,
        |    unnest(string_split(phrase, ' ')) AS word
        |  FROM occ),
        |ws AS (
        |  SELECT word, CAST(SUM(n_occ) AS BIGINT) AS freq,
        |    CAST(SUM(len * n_occ) AS BIGINT) AS deg
        |  FROM mem GROUP BY word),
        |wsc AS (
        |  SELECT word,
        |    (deg // freq) * 1000000 + ((deg % freq) * 1000000) // freq
        |      AS wscore_ppm
        |  FROM ws)
        |SELECT m.phrase, m.len AS n_words, m.n_occ,
        |  CAST(SUM(w.wscore_ppm) AS BIGINT) AS score_ppm
        |FROM mem m JOIN wsc w USING (word)
        |GROUP BY m.phrase, m.len, m.n_occ
        |ORDER BY score_ppm DESC, m.phrase
        |LIMIT 20""".stripMargin,
    "text_js_divergence" ->
      """WITH tok AS (
        |  SELECT doc_id % 2 AS arm,
        |    unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS tok
        |  FROM documents),
        |counts AS (
        |  SELECT tok,
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_b
        |  FROM tok GROUP BY tok),
        |tot AS (
        |  SELECT CAST(SUM(c_a) AS BIGINT) AS na,
        |    CAST(SUM(c_b) AS BIGINT) AS nb FROM counts),
        |terms AS (
        |  SELECT na, nb,
        |    CAST(ROUND(
        |      0.5 * CASE WHEN c_a > 0 THEN (c_a::DOUBLE / na) *
        |        ln((c_a::DOUBLE / na) /
        |           ((c_a::DOUBLE / na + c_b::DOUBLE / nb) / 2.0)) ELSE 0.0 END +
        |      0.5 * CASE WHEN c_b > 0 THEN (c_b::DOUBLE / nb) *
        |        ln((c_b::DOUBLE / nb) /
        |           ((c_a::DOUBLE / na + c_b::DOUBLE / nb) / 2.0)) ELSE 0.0 END, 9)
        |      AS DECIMAL(18,9)) AS term
        |  FROM counts CROSS JOIN tot)
        |SELECT na AS n_tokens_a, nb AS n_tokens_b,
        |  COUNT(*) AS n_vocab,
        |  CAST(SUM(term) AS DOUBLE) AS js_nats,
        |  ROUND(CAST(SUM(term) AS DOUBLE) / ln(2.0), 6) AS js_bits
        |FROM terms GROUP BY na, nb""".stripMargin,
    "text_bpe_encode" ->
      """WITH wfreq AS (
        |  SELECT word, COUNT(*) AS cnt FROM (
        |    SELECT unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS word
        |    FROM documents) GROUP BY word),
        |s0 AS (
        |  SELECT word, cnt, i AS pos, substr(word, CAST(i AS INTEGER), 1) AS sym
        |  FROM (SELECT word, cnt,
        |          unnest(generate_series(1, CAST(length(word) AS BIGINT))) AS i
        |        FROM wfreq)),
        |r1_nxt AS (SELECT word, cnt, pos, sym,
        |    LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM s0),
        |r1_pairs AS (SELECT sym, nxt, CAST(SUM(cnt) AS BIGINT) AS pc FROM r1_nxt
        |    WHERE nxt IS NOT NULL GROUP BY sym, nxt),
        |r1_best AS (SELECT sym AS a, nxt AS b, pc FROM r1_pairs
        |    ORDER BY pc DESC, sym, nxt LIMIT 1),
        |r1_flag AS (SELECT t.word, t.cnt, t.pos, t.sym, t.nxt, b.a, b.b, b.pc,
        |    (t.sym = b.a AND t.nxt = b.b) AS m
        |  FROM r1_nxt t CROSS JOIN r1_best b),
        |r1_run AS (SELECT *, SUM(CASE WHEN m THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY word ORDER BY pos) AS mcum FROM r1_flag),
        |r1_isl AS (SELECT *, CASE WHEN m THEN pos - mcum END AS isl FROM r1_run),
        |r1_off AS (SELECT *, CASE WHEN m THEN
        |    ROW_NUMBER() OVER (PARTITION BY word, isl ORDER BY pos) END AS off FROM r1_isl),
        |r1_mrg AS (SELECT *, (m AND off % 2 = 1) AS merged FROM r1_off),
        |r1_keep AS (SELECT *, COALESCE(LAG(merged)
        |    OVER (PARTITION BY word ORDER BY pos), FALSE) AS cons FROM r1_mrg),
        |s1 AS (SELECT word, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
        |    CASE WHEN merged THEN a || b ELSE sym END AS sym
        |  FROM r1_keep WHERE NOT cons),
        |r2_nxt AS (SELECT word, cnt, pos, sym,
        |    LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM s1),
        |r2_pairs AS (SELECT sym, nxt, CAST(SUM(cnt) AS BIGINT) AS pc FROM r2_nxt
        |    WHERE nxt IS NOT NULL GROUP BY sym, nxt),
        |r2_best AS (SELECT sym AS a, nxt AS b, pc FROM r2_pairs
        |    ORDER BY pc DESC, sym, nxt LIMIT 1),
        |r2_flag AS (SELECT t.word, t.cnt, t.pos, t.sym, t.nxt, b.a, b.b, b.pc,
        |    (t.sym = b.a AND t.nxt = b.b) AS m
        |  FROM r2_nxt t CROSS JOIN r2_best b),
        |r2_run AS (SELECT *, SUM(CASE WHEN m THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY word ORDER BY pos) AS mcum FROM r2_flag),
        |r2_isl AS (SELECT *, CASE WHEN m THEN pos - mcum END AS isl FROM r2_run),
        |r2_off AS (SELECT *, CASE WHEN m THEN
        |    ROW_NUMBER() OVER (PARTITION BY word, isl ORDER BY pos) END AS off FROM r2_isl),
        |r2_mrg AS (SELECT *, (m AND off % 2 = 1) AS merged FROM r2_off),
        |r2_keep AS (SELECT *, COALESCE(LAG(merged)
        |    OVER (PARTITION BY word ORDER BY pos), FALSE) AS cons FROM r2_mrg),
        |s2 AS (SELECT word, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
        |    CASE WHEN merged THEN a || b ELSE sym END AS sym
        |  FROM r2_keep WHERE NOT cons),
        |r3_nxt AS (SELECT word, cnt, pos, sym,
        |    LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM s2),
        |r3_pairs AS (SELECT sym, nxt, CAST(SUM(cnt) AS BIGINT) AS pc FROM r3_nxt
        |    WHERE nxt IS NOT NULL GROUP BY sym, nxt),
        |r3_best AS (SELECT sym AS a, nxt AS b, pc FROM r3_pairs
        |    ORDER BY pc DESC, sym, nxt LIMIT 1),
        |r3_flag AS (SELECT t.word, t.cnt, t.pos, t.sym, t.nxt, b.a, b.b, b.pc,
        |    (t.sym = b.a AND t.nxt = b.b) AS m
        |  FROM r3_nxt t CROSS JOIN r3_best b),
        |r3_run AS (SELECT *, SUM(CASE WHEN m THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY word ORDER BY pos) AS mcum FROM r3_flag),
        |r3_isl AS (SELECT *, CASE WHEN m THEN pos - mcum END AS isl FROM r3_run),
        |r3_off AS (SELECT *, CASE WHEN m THEN
        |    ROW_NUMBER() OVER (PARTITION BY word, isl ORDER BY pos) END AS off FROM r3_isl),
        |r3_mrg AS (SELECT *, (m AND off % 2 = 1) AS merged FROM r3_off),
        |r3_keep AS (SELECT *, COALESCE(LAG(merged)
        |    OVER (PARTITION BY word ORDER BY pos), FALSE) AS cons FROM r3_mrg),
        |s3 AS (SELECT word, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
        |    CASE WHEN merged THEN a || b ELSE sym END AS sym
        |  FROM r3_keep WHERE NOT cons)
        |SELECT sym, CAST(SUM(cnt) AS BIGINT) AS n_tokens FROM s3
        |GROUP BY sym ORDER BY n_tokens DESC, sym LIMIT 15""".stripMargin,
    "text_bpe_merges" ->
      """WITH wfreq AS (
        |  SELECT word, COUNT(*) AS cnt FROM (
        |    SELECT unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS word
        |    FROM documents) GROUP BY word),
        |s0 AS (
        |  SELECT word, cnt, i AS pos, substr(word, CAST(i AS INTEGER), 1) AS sym
        |  FROM (SELECT word, cnt,
        |          unnest(generate_series(1, CAST(length(word) AS BIGINT))) AS i
        |        FROM wfreq)),
        |r1_nxt AS (SELECT word, cnt, pos, sym,
        |    LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM s0),
        |r1_pairs AS (SELECT sym, nxt, CAST(SUM(cnt) AS BIGINT) AS pc FROM r1_nxt
        |    WHERE nxt IS NOT NULL GROUP BY sym, nxt),
        |r1_best AS (SELECT sym AS a, nxt AS b, pc FROM r1_pairs
        |    ORDER BY pc DESC, sym, nxt LIMIT 1),
        |r1_flag AS (SELECT t.word, t.cnt, t.pos, t.sym, t.nxt, b.a, b.b, b.pc,
        |    (t.sym = b.a AND t.nxt = b.b) AS m
        |  FROM r1_nxt t CROSS JOIN r1_best b),
        |r1_run AS (SELECT *, SUM(CASE WHEN m THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY word ORDER BY pos) AS mcum FROM r1_flag),
        |r1_isl AS (SELECT *, CASE WHEN m THEN pos - mcum END AS isl FROM r1_run),
        |r1_off AS (SELECT *, CASE WHEN m THEN
        |    ROW_NUMBER() OVER (PARTITION BY word, isl ORDER BY pos) END AS off FROM r1_isl),
        |r1_mrg AS (SELECT *, (m AND off % 2 = 1) AS merged FROM r1_off),
        |r1_keep AS (SELECT *, COALESCE(LAG(merged)
        |    OVER (PARTITION BY word ORDER BY pos), FALSE) AS cons FROM r1_mrg),
        |s1 AS (SELECT word, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
        |    CASE WHEN merged THEN a || b ELSE sym END AS sym
        |  FROM r1_keep WHERE NOT cons),
        |r1_out AS (SELECT CAST(1 AS BIGINT) AS round, a AS left_sym, b AS right_sym,
        |    pc AS pair_count, (SELECT CAST(SUM(cnt) AS BIGINT) FROM s1) AS symbols_after
        |  FROM r1_best),
        |r2_nxt AS (SELECT word, cnt, pos, sym,
        |    LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM s1),
        |r2_pairs AS (SELECT sym, nxt, CAST(SUM(cnt) AS BIGINT) AS pc FROM r2_nxt
        |    WHERE nxt IS NOT NULL GROUP BY sym, nxt),
        |r2_best AS (SELECT sym AS a, nxt AS b, pc FROM r2_pairs
        |    ORDER BY pc DESC, sym, nxt LIMIT 1),
        |r2_flag AS (SELECT t.word, t.cnt, t.pos, t.sym, t.nxt, b.a, b.b, b.pc,
        |    (t.sym = b.a AND t.nxt = b.b) AS m
        |  FROM r2_nxt t CROSS JOIN r2_best b),
        |r2_run AS (SELECT *, SUM(CASE WHEN m THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY word ORDER BY pos) AS mcum FROM r2_flag),
        |r2_isl AS (SELECT *, CASE WHEN m THEN pos - mcum END AS isl FROM r2_run),
        |r2_off AS (SELECT *, CASE WHEN m THEN
        |    ROW_NUMBER() OVER (PARTITION BY word, isl ORDER BY pos) END AS off FROM r2_isl),
        |r2_mrg AS (SELECT *, (m AND off % 2 = 1) AS merged FROM r2_off),
        |r2_keep AS (SELECT *, COALESCE(LAG(merged)
        |    OVER (PARTITION BY word ORDER BY pos), FALSE) AS cons FROM r2_mrg),
        |s2 AS (SELECT word, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
        |    CASE WHEN merged THEN a || b ELSE sym END AS sym
        |  FROM r2_keep WHERE NOT cons),
        |r2_out AS (SELECT CAST(2 AS BIGINT) AS round, a AS left_sym, b AS right_sym,
        |    pc AS pair_count, (SELECT CAST(SUM(cnt) AS BIGINT) FROM s2) AS symbols_after
        |  FROM r2_best),
        |r3_nxt AS (SELECT word, cnt, pos, sym,
        |    LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM s2),
        |r3_pairs AS (SELECT sym, nxt, CAST(SUM(cnt) AS BIGINT) AS pc FROM r3_nxt
        |    WHERE nxt IS NOT NULL GROUP BY sym, nxt),
        |r3_best AS (SELECT sym AS a, nxt AS b, pc FROM r3_pairs
        |    ORDER BY pc DESC, sym, nxt LIMIT 1),
        |r3_flag AS (SELECT t.word, t.cnt, t.pos, t.sym, t.nxt, b.a, b.b, b.pc,
        |    (t.sym = b.a AND t.nxt = b.b) AS m
        |  FROM r3_nxt t CROSS JOIN r3_best b),
        |r3_run AS (SELECT *, SUM(CASE WHEN m THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY word ORDER BY pos) AS mcum FROM r3_flag),
        |r3_isl AS (SELECT *, CASE WHEN m THEN pos - mcum END AS isl FROM r3_run),
        |r3_off AS (SELECT *, CASE WHEN m THEN
        |    ROW_NUMBER() OVER (PARTITION BY word, isl ORDER BY pos) END AS off FROM r3_isl),
        |r3_mrg AS (SELECT *, (m AND off % 2 = 1) AS merged FROM r3_off),
        |r3_keep AS (SELECT *, COALESCE(LAG(merged)
        |    OVER (PARTITION BY word ORDER BY pos), FALSE) AS cons FROM r3_mrg),
        |s3 AS (SELECT word, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
        |    CASE WHEN merged THEN a || b ELSE sym END AS sym
        |  FROM r3_keep WHERE NOT cons),
        |r3_out AS (SELECT CAST(3 AS BIGINT) AS round, a AS left_sym, b AS right_sym,
        |    pc AS pair_count, (SELECT CAST(SUM(cnt) AS BIGINT) FROM s3) AS symbols_after
        |  FROM r3_best)
        |SELECT * FROM r1_out UNION ALL SELECT * FROM r2_out UNION ALL SELECT * FROM r3_out
        |ORDER BY round""".stripMargin,
    "pipe_ccnet_buckets" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
        |  FROM documents),
        |b0 AS (
        |  SELECT doc_id, lang, toks, len(toks) AS n
        |  FROM t WHERE len(toks) >= 2),
        |tr AS (
        |  SELECT doc_id, lang, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM (SELECT doc_id, lang, toks,
        |          unnest(generate_series(1, n - 1)) AS i FROM b0)),
        |rb AS (
        |  SELECT w1, w2, COUNT(*) AS cb FROM tr WHERE lang = 'en' GROUP BY w1, w2),
        |rc AS (
        |  SELECT w1, COUNT(*) AS cu FROM tr WHERE lang = 'en' GROUP BY w1),
        |vv AS (SELECT COUNT(*) + 1 AS v FROM rc),
        |sc AS (
        |  SELECT tr.doc_id, tr.lang,
        |    CAST(round(-ln(CAST(COALESCE(rb.cb, 0) + 1 AS DOUBLE) /
        |                   CAST(COALESCE(rc.cu, 0) + vv.v AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) AS term
        |  FROM tr LEFT JOIN rb ON tr.w1 = rb.w1 AND tr.w2 = rb.w2
        |          LEFT JOIN rc ON tr.w1 = rc.w1
        |          CROSS JOIN vv),
        |pd AS (
        |  SELECT doc_id, lang, COUNT(*) AS n_trans,
        |    round(CAST(SUM(term) AS DOUBLE) / COUNT(*), 6) AS nll
        |  FROM sc GROUP BY doc_id, lang),
        |cuts AS (
        |  SELECT round(quantile_cont(nll, 1.0/3), 6) AS c1,
        |         round(quantile_cont(nll, 2.0/3), 6) AS c2
        |  FROM pd)
        |SELECT
        |  CASE WHEN nll <= c1 THEN 'head'
        |       WHEN nll <= c2 THEN 'middle'
        |       ELSE 'tail' END AS bucket,
        |  lang, COUNT(*) AS n_docs,
        |  round(CAST(SUM(CAST(nll AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_nll,
        |  MIN(nll) AS min_nll, MAX(nll) AS max_nll
        |FROM pd, cuts
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "pipe_dsir_weights" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
        |  FROM documents),
        |uni AS (
        |  SELECT doc_id, lang, source, unnest(toks) AS g FROM t),
        |b0 AS (
        |  SELECT doc_id, lang, source, toks, len(toks) AS n
        |  FROM t WHERE len(toks) >= 2),
        |bi AS (
        |  SELECT doc_id, lang, source, toks[i] || ' ' || toks[i + 1] AS g
        |  FROM (SELECT doc_id, lang, source, toks,
        |          unnest(generate_series(1, n - 1)) AS i FROM b0)),
        |f AS (
        |  SELECT doc_id, lang, source,
        |    ('0x' || substr(md5(g), 1, 4))::BIGINT % 256 AS b
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        |c AS (
        |  SELECT b,
        |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct,
        |    SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS cq
        |  FROM f GROUP BY b),
        |tot AS (
        |  SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt,
        |         SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS nq
        |  FROM f),
        |sc AS (
        |  SELECT r.range AS b,
        |    CAST(round(
        |      ln(CAST(COALESCE(c.ct, 0) + 1 AS DOUBLE) /
        |         CAST(tot.nt + 256 AS DOUBLE)) -
        |      ln(CAST(COALESCE(c.cq, 0) + 1 AS DOUBLE) /
        |         CAST(tot.nq + 256 AS DOUBLE)), 6) AS DECIMAL(18,6)) AS score
        |  FROM range(256) r LEFT JOIN c ON c.b = r.range CROSS JOIN tot)
        |SELECT f.doc_id, f.source, f.lang,
        |  COUNT(*) AS n_feats,
        |  CAST(SUM(sc.score) AS DOUBLE) AS logw
        |FROM f JOIN sc USING (b)
        |WHERE f.lang <> 'en'
        |GROUP BY 1, 2, 3
        |ORDER BY logw DESC, f.doc_id
        |LIMIT 50""".stripMargin,
    "text_entropy" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |                                    x -> length(x) > 0)) AS t
        |  FROM documents),
        |freq AS (
        |  SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t),
        |withn AS (
        |  SELECT doc_id, c,
        |    SUM(c) OVER (PARTITION BY doc_id) AS n
        |  FROM freq),
        |term AS (
        |  SELECT doc_id, n,
        |    CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
        |               ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |         AS DECIMAL(18,6)) AS h_term
        |  FROM withn)
        |SELECT doc_id,
        |  CAST(MAX(n) AS BIGINT) AS n_tokens,
        |  COUNT(*) AS n_types,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(MAX(n) AS DOUBLE) AS ttr,
        |  CAST(SUM(h_term) AS DOUBLE) AS entropy,
        |  round(exp(CAST(SUM(h_term) AS DOUBLE)), 6) AS perplexity,
        |  CAST(SUM(h_term) AS DOUBLE) < 2.0 AS low_diversity
        |FROM term
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "pipe_dsir_resample" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
        |  FROM documents),
        |uni AS (
        |  SELECT doc_id, lang, source, unnest(toks) AS g FROM t),
        |b0 AS (
        |  SELECT doc_id, lang, source, toks, len(toks) AS n
        |  FROM t WHERE len(toks) >= 2),
        |bi AS (
        |  SELECT doc_id, lang, source, toks[i] || ' ' || toks[i + 1] AS g
        |  FROM (SELECT doc_id, lang, source, toks,
        |          unnest(generate_series(1, n - 1)) AS i FROM b0)),
        |f AS (
        |  SELECT doc_id, lang, source,
        |    ('0x' || substr(md5(g), 1, 4))::BIGINT % 256 AS b
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        |c AS (
        |  SELECT b,
        |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct,
        |    SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS cq
        |  FROM f GROUP BY b),
        |tot AS (
        |  SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt,
        |         SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS nq
        |  FROM f),
        |sc AS (
        |  SELECT r.range AS b,
        |    CAST(round(
        |      ln(CAST(COALESCE(c.ct, 0) + 1 AS DOUBLE) /
        |         CAST(tot.nt + 256 AS DOUBLE)) -
        |      ln(CAST(COALESCE(c.cq, 0) + 1 AS DOUBLE) /
        |         CAST(tot.nq + 256 AS DOUBLE)), 6) AS DECIMAL(18,6)) AS score
        |  FROM range(256) r LEFT JOIN c ON c.b = r.range CROSS JOIN tot),
        |w AS (
        |  SELECT f.doc_id, f.source, f.lang,
        |    CAST(SUM(sc.score) AS DOUBLE) AS logw
        |  FROM f JOIN sc USING (b)
        |  WHERE f.lang <> 'en'
        |  GROUP BY 1, 2, 3),
        |u AS (
        |  SELECT doc_id,
        |    (('0x' || substr(md5(text), 1, 8))::BIGINT + 1) / 4294967296.0 AS u
        |  FROM documents)
        |SELECT w.doc_id, w.source, w.lang, w.logw,
        |  round(w.logw - ln(-ln(u.u)), 6) AS skey
        |FROM w JOIN u USING (doc_id)
        |ORDER BY skey DESC, w.doc_id
        |LIMIT 40""".stripMargin,
    "pipe_temperature_mix" ->
      """WITH l AS (
        |  SELECT lang, COUNT(*) AS n_docs,
        |    CAST(SUM(len(list_filter(string_split(text, ' '),
        |                             x -> length(x) > 0))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS corpus_tokens FROM l),
        |s AS (
        |  SELECT lang, n_docs, n_tokens,
        |    CAST(n_tokens AS DOUBLE) / CAST(corpus_tokens AS DOUBLE) AS p,
        |    CAST(round(pow(CAST(n_tokens AS DOUBLE) /
        |                   CAST(corpus_tokens AS DOUBLE), 0.3), 6)
        |         AS DECIMAL(18,6)) AS pa
        |  FROM l CROSS JOIN tot),
        |z AS (SELECT SUM(pa) AS z FROM s)
        |SELECT lang, n_docs, n_tokens,
        |  round(p, 6) AS p,
        |  round(CAST(pa AS DOUBLE) / CAST(z AS DOUBLE), 6) AS q,
        |  CAST(floor(round(CAST(pa AS DOUBLE) / CAST(z AS DOUBLE), 6) * 100000.0)
        |       AS BIGINT) AS alloc_tokens
        |FROM s CROSS JOIN z
        |ORDER BY lang""".stripMargin,
    "pipe_weighted_sample" ->
      """WITH k AS (
        |  SELECT doc_id, source, n_chars,
        |    -ln((('0x' || substr(md5(text), 1, 8))::BIGINT + 1) / 4294967296.0)
        |      / n_chars AS es_key
        |  FROM documents)
        |SELECT doc_id, source, n_chars
        |FROM (SELECT * FROM k ORDER BY es_key, doc_id LIMIT 50)
        |ORDER BY doc_id""".stripMargin,
    "text_conj_search" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents)
        |SELECT doc_id, source FROM toks
        |WHERE tok IN ('vector', 'stream', 'hash')
        |GROUP BY doc_id, source HAVING COUNT(*) = 3
        |ORDER BY doc_id""".stripMargin,
    "pipe_cross_source_dupes" ->
      """WITH d AS (
        |  SELECT md5(array_to_string(
        |    list_slice(string_split(text, ' '), 1, 5), ' ')) AS digest,
        |    source
        |  FROM documents),
        |ds AS (
        |  SELECT DISTINCT digest, source FROM d),
        |p AS (
        |  SELECT a.digest, a.source AS src_a, b.source AS src_b
        |  FROM ds a JOIN ds b
        |    ON a.digest = b.digest AND a.source < b.source)
        |SELECT src_a, src_b, COUNT(*) AS n_shared_digests
        |FROM p GROUP BY src_a, src_b
        |ORDER BY src_a, src_b""".stripMargin,
    "pipe_mixture_hhi" ->
      """WITH s AS (
        |  SELECT lang, source, COUNT(*) AS n
        |  FROM documents GROUP BY lang, source)
        |SELECT lang,
        |  COUNT(*) AS n_sources,
        |  CAST(SUM(n) AS BIGINT) AS n_docs,
        |  CAST(SUM(n * n) AS DOUBLE)
        |    / (CAST(SUM(n) AS DOUBLE) * CAST(SUM(n) AS DOUBLE)) AS hhi
        |FROM s GROUP BY lang
        |ORDER BY lang""".stripMargin,
    "pipe_token_packing" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> len(x) > 0)) AS BIGINT) AS n_tok
        |  FROM documents),
        |r AS (
        |  SELECT source, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        |  FROM t WHERE n_tok > 0)
        |SELECT source, CAST((running - 1) // 500 AS BIGINT) AS batch_id,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |FROM r GROUP BY source, (running - 1) // 500
        |ORDER BY source, batch_id""".stripMargin,
    "pipe_quality_lr" ->
      s"""WITH $qualityLrCtes
        |SELECT ROUND(w.w0::DOUBLE, 6) AS w0, ROUND(w.w1::DOUBLE, 6) AS w1,
        |  ROUND(w.w2::DOUBLE, 6) AS w2,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS n_pos_label,
        |  CAST(SUM(CASE WHEN p >= 0.500000 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_pred,
        |  CAST(SUM(CASE WHEN (CASE WHEN p >= 0.500000 THEN 1 ELSE 0 END)
        |    = CAST(y AS BIGINT) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        |FROM pe, wd w
        |GROUP BY w.w0, w.w1, w.w2""".stripMargin,
    "pipe_quality_auc" ->
      s"""WITH $qualityLrCtes,
        |hist AS (
        |  SELECT p AS yv, CAST(COUNT(*) AS BIGINT) AS t,
        |    CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS t_a
        |  FROM pe GROUP BY p),
        |ranked AS (
        |  SELECT *, COALESCE(SUM(t) OVER (ORDER BY yv
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lt
        |  FROM hist),
        |s AS (
        |  SELECT CAST(SUM(t) AS BIGINT) AS n,
        |    CAST(SUM(t_a) AS BIGINT) AS n_a,
        |    CAST(SUM((2 * lt + t + 1) * t_a) AS BIGINT) AS r2sum_a
        |  FROM ranked)
        |SELECT n_a AS n_pos, CAST(n - n_a AS BIGINT) AS n_neg,
        |  CAST(r2sum_a - n_a * (n_a + 1) AS BIGINT) AS u2,
        |  CASE WHEN n_a > 0 AND n - n_a > 0 THEN
        |    ((r2sum_a - n_a * (n_a + 1)) // (n_a * (n - n_a))) * 500000
        |    + ((r2sum_a - n_a * (n_a + 1)) % (n_a * (n - n_a))) * 500000
        |      // (n_a * (n - n_a))
        |  END AS auc_micro
        |FROM s""".stripMargin,
    "pipe_quality_calibration" ->
      s"""WITH $qualityLrCtes
        |SELECT LEAST(CAST(FLOOR(p * 10) AS BIGINT), 9) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS n_pos,
        |  CAST(SUM(p) * 1000000 AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mean_p_micro,
        |  CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) * 10000 // CAST(COUNT(*) AS BIGINT) AS pos_rate_bp
        |FROM pe
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin,
    "pipe_threshold_sweep" ->
      """WITH t AS (
        |  SELECT
        |    len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS n,
        |    len(list_distinct(
        |      list_filter(string_split(text, ' '), x -> len(x) > 0))) AS nd
        |  FROM documents),
        |s AS (
        |  SELECT nd * 1000 // n AS score_milli, n FROM t WHERE n > 0),
        |bins AS (
        |  SELECT score_milli // 100 AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs_bin,
        |    CAST(SUM(n) AS BIGINT) AS n_words_bin
        |  FROM s GROUP BY score_milli // 100)
        |SELECT CAST(bucket * 100 AS BIGINT) AS thr_milli, n_docs_bin,
        |  CAST(SUM(n_docs_bin) OVER (ORDER BY bucket DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_docs_kept,
        |  CAST(SUM(n_words_bin) OVER (ORDER BY bucket DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_words_kept,
        |  CAST(SUM(n_docs_bin) OVER (ORDER BY bucket DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10000
        |    // SUM(n_docs_bin) OVER () AS BIGINT) AS kept_share_bp
        |FROM bins
        |ORDER BY thr_milli""".stripMargin,
    "pipe_reason_codes" ->
      """WITH t AS (
        |  SELECT source, n_chars,
        |    len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS n,
        |    len(list_distinct(
        |      list_filter(string_split(text, ' '), x -> len(x) > 0))) AS nd,
        |    len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the', 'a'))) AS n_stop
        |  FROM documents),
        |r AS (
        |  SELECT source,
        |    CASE WHEN n_chars < 150 THEN 'too_short'
        |         WHEN n_stop = 0 THEN 'no_stopwords'
        |         WHEN CAST(n - nd AS DOUBLE) / n > 0.7 THEN 'repetitive'
        |         ELSE 'pass' END AS reason
        |  FROM t)
        |SELECT source, reason, COUNT(*) AS n_docs
        |FROM r GROUP BY source, reason
        |ORDER BY source, reason""".stripMargin,
    "text_repetition" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, len(ws) AS n_words,
        |    len(list_distinct(ws)) AS n_distinct
        |  FROM w),
        |big AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(ws) - 1),
        |      i -> array_to_string(list_slice(ws, i, i + 1), ' '))) AS pair
        |  FROM w WHERE len(ws) >= 2),
        |cnt AS (SELECT doc_id, pair, COUNT(*) AS c FROM big GROUP BY 1, 2),
        |top AS (
        |  SELECT doc_id, pair AS top_bigram, c AS top_bigram_n,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY doc_id ORDER BY c DESC, pair DESC) AS rn
        |  FROM cnt)
        |SELECT b.doc_id, b.n_words, b.n_distinct,
        |  CAST(b.n_words - b.n_distinct AS DOUBLE) / b.n_words AS dup_word_frac,
        |  t.top_bigram, t.top_bigram_n,
        |  2.0 * t.top_bigram_n / b.n_words AS top_bigram_frac,
        |  (2.0 * t.top_bigram_n / b.n_words) > 0.2 AS flag_repetitive
        |FROM base b JOIN top t ON b.doc_id = t.doc_id AND t.rn = 1
        |ORDER BY b.doc_id""".stripMargin,
    "text_ngram_generator" ->
      """WITH w AS (
        |  SELECT list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
        |  FROM documents),
        |g AS (
        |  SELECT CASE WHEN len(ws) >= 2
        |    THEN list_transform(generate_series(1, len(ws) - 1),
        |      i -> array_to_string(list_slice(ws, i, i + 1), ' '))
        |    ELSE [] END AS gs
        |  FROM w)
        |SELECT ngram, COUNT(*) AS n
        |FROM (SELECT unnest(gs) AS ngram FROM g)
        |GROUP BY ngram
        |ORDER BY n DESC, ngram
        |LIMIT 20""".stripMargin,
    // deliberately bloom-free: the prefilter is an optimization whose
    // result must EQUAL the exact semi-join (no false negatives)
    "pipe_bloom_prefilter" ->
      """WITH t AS (
        |  SELECT doc_id, source, substr(md5(text), 1, 1) AS hx,
        |    md5(array_to_string(
        |      list_slice(string_split(text, ' '), 1, 5), ' ')) AS fp
        |  FROM documents),
        |ev AS (SELECT DISTINCT fp FROM t WHERE hx IN ('e', 'f')),
        |tr AS (
        |  SELECT doc_id, source, fp FROM t WHERE hx NOT IN ('e', 'f'))
        |SELECT tr.source, COUNT(*) AS n_matched
        |FROM tr WHERE fp IN (SELECT fp FROM ev)
        |GROUP BY tr.source
        |ORDER BY tr.source""".stripMargin,
    "pipe_contamination" ->
      """WITH t AS (
        |  SELECT doc_id, source, substr(md5(text), 1, 1) AS hx,
        |    CASE WHEN len(string_split(text, ' ')) >= 5
        |      THEN list_distinct(list_transform(
        |        generate_series(1, len(string_split(text, ' ')) - 4),
        |        i -> md5(array_to_string(
        |          list_slice(string_split(text, ' '), i, i + 4), ' '))))
        |      ELSE [] END AS sh
        |  FROM documents),
        |tr AS (
        |  SELECT DISTINCT unnest(sh) AS g FROM t WHERE hx NOT IN ('e', 'f')),
        |ev AS (
        |  SELECT doc_id, source, unnest(sh) AS g FROM t WHERE hx IN ('e', 'f')),
        |cont AS (
        |  SELECT DISTINCT ev.doc_id, ev.source
        |  FROM ev JOIN tr ON ev.g = tr.g),
        |evd AS (
        |  SELECT source, COUNT(*) AS n_eval_docs FROM t
        |  WHERE hx IN ('e', 'f') GROUP BY source),
        |cnt AS (
        |  SELECT source, COUNT(*) AS n_contaminated FROM cont GROUP BY source)
        |SELECT evd.source, evd.n_eval_docs,
        |  COALESCE(cnt.n_contaminated, 0) AS n_contaminated
        |FROM evd LEFT JOIN cnt ON evd.source = cnt.source
        |ORDER BY evd.source""".stripMargin,
    "pipe_mixture_sample" ->
      """WITH d AS (SELECT doc_id, source FROM documents),
        |sizes AS (SELECT source, COUNT(*) AS n_docs FROM d GROUP BY source),
        |tot AS (SELECT SUM(n_docs) AS n_total, COUNT(*) AS n_sources FROM sizes),
        |rates AS (
        |  SELECT source, n_docs,
        |    least(CAST(1.0 AS DOUBLE),
        |      (CAST(n_total AS DOUBLE) / n_sources) / n_docs) AS rate
        |  FROM sizes, tot),
        |rt AS (
        |  SELECT *, CAST(floor(rate * 4294967296.0) AS BIGINT) AS thresh
        |  FROM rates),
        |kept AS (
        |  SELECT d.source,
        |    COUNT(CASE WHEN (d.doc_id * 2654435761) % 4294967296 < r.thresh
        |          THEN 1 END) AS n_kept
        |  FROM d JOIN rt r ON d.source = r.source GROUP BY d.source)
        |SELECT r.source, r.n_docs, r.rate AS target_rate, k.n_kept,
        |  CAST(k.n_kept AS DOUBLE) / r.n_docs AS achieved_rate
        |FROM rt r JOIN kept k ON r.source = k.source
        |ORDER BY r.source""".stripMargin,
    "pipe_domain_cap" ->
      """WITH p AS (
        |  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS pick
        |  FROM documents),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY source ORDER BY pick, doc_id) AS rn
        |  FROM p)
        |SELECT source, rn, doc_id FROM r
        |WHERE rn <= 5 ORDER BY source, rn""".stripMargin,
    "text_normalize_dedup" ->
      """WITH d AS (
        |  SELECT source, md5(text) AS fr,
        |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fn
        |  FROM documents)
        |SELECT source,
        |  COUNT(*) AS n_docs,
        |  COUNT(DISTINCT fr) AS n_raw_fp,
        |  COUNT(DISTINCT fn) AS n_norm_fp,
        |  COUNT(DISTINCT fr) - COUNT(DISTINCT fn) AS n_norm_only_dups
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "pipe_incremental_ingest" ->
      """WITH d AS (
        |  SELECT doc_id, source, md5(text) AS digest FROM documents),
        |fresh AS (
        |  SELECT source, digest FROM d WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT source, digest FROM d WHERE doc_id % 2 = 0 AND doc_id % 10 = 0),
        |hist AS (SELECT DISTINCT digest FROM d WHERE doc_id % 2 = 0)
        |SELECT f.source,
        |  COUNT(*) AS n_new,
        |  COUNT(*) FILTER (WHERE h.digest IS NULL) AS n_accepted,
        |  COUNT(*) FILTER (WHERE h.digest IS NOT NULL) AS n_rejected
        |FROM fresh f LEFT JOIN hist h ON f.digest = h.digest
        |GROUP BY f.source
        |ORDER BY f.source""".stripMargin,
    "text_bigram_pairs" ->
      """WITH l AS (
        |  SELECT list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
        |  FROM documents),
        |i AS (
        |  SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM l),
        |p AS (SELECT ws[i] || ' ' || ws[i + 1] AS pair FROM i)
        |SELECT pair, COUNT(*) AS n
        |FROM p
        |GROUP BY pair
        |ORDER BY n DESC, pair
        |LIMIT 25""".stripMargin,
    "text_heavy_hitters" ->
      """WITH f AS (
        |  SELECT word AS token, COUNT(*) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE length(word) > 0
        |  GROUP BY 1)
        |SELECT token, cnt
        |FROM f
        |WHERE cnt * 33 > (SELECT CAST(SUM(cnt) AS BIGINT) FROM f)
        |ORDER BY cnt DESC, token""".stripMargin,
    "text_pii_redact" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    substr(text, 1, 40) || ' contact user' || doc_id ||
        |    '@example.com or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]+'))
        |    AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(raw, '[0-9]{3}-[0-9]{4}')) AS BIGINT)
        |    AS n_phones,
        |  regexp_replace(
        |    regexp_replace(raw, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]+', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
        |FROM raw
        |ORDER BY doc_id""".stripMargin,
    "text_chunking" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 1),
        |c0 AS (
        |  SELECT doc_id, toks, n,
        |    unnest(generate_series(1, n, 24)) AS start_tok
        |  FROM s),
        |c AS (
        |  SELECT doc_id, toks, n, start_tok,
        |    CAST((start_tok - 1) // 24 AS BIGINT) AS chunk_id
        |  FROM c0)
        |SELECT doc_id, chunk_id, start_tok,
        |  CAST(len(list_slice(toks, start_tok, least(start_tok + 31, n))) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(list_slice(toks, start_tok, least(start_tok + 31, n)), ' ')) AS chunk_fp
        |FROM c
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "pipe_chunk_dedup" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 1),
        |c0 AS (
        |  SELECT doc_id, toks, n,
        |    unnest(generate_series(1, n, 24)) AS start_tok
        |  FROM s),
        |ch AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_slice(toks, start_tok, least(start_tok + 31, n)), ' ')) AS chunk_fp
        |  FROM c0),
        |pd AS (
        |  SELECT chunk_fp, doc_id, COUNT(*) AS n_in_doc
        |  FROM ch GROUP BY chunk_fp, doc_id)
        |SELECT chunk_fp,
        |  CAST(SUM(n_in_doc) AS BIGINT) AS n_occurrences,
        |  COUNT(*) AS n_docs,
        |  MIN(doc_id) AS survivor_doc
        |FROM pd
        |GROUP BY chunk_fp
        |HAVING COUNT(*) > 1
        |ORDER BY chunk_fp""".stripMargin,
    "text_trigram_score" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 3),
        |i0 AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, n - 2)) AS i FROM b),
        |tg AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS tg
        |  FROM i0),
        |f AS (SELECT tg, COUNT(*) AS ctg FROM tg GROUP BY tg)
        |SELECT tg.doc_id,
        |  COUNT(*) AS n_tg,
        |  CAST(SUM(f.ctg) AS BIGINT) AS sum_freq,
        |  CAST(SUM(f.ctg) AS DOUBLE) / COUNT(*) AS avg_freq,
        |  CAST(SUM(CASE WHEN f.ctg = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
        |FROM tg JOIN f USING (tg)
        |GROUP BY tg.doc_id
        |ORDER BY tg.doc_id""".stripMargin,
    "pipe_dataset_card" ->
      """WITH d AS (
        |  SELECT source, lang, text,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> length(t) > 0)) AS BIGINT) AS n_toks,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    md5(text) AS fp
        |  FROM documents),
        |vol AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        |    CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |  FROM d GROUP BY source),
        |lg AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_langs,
        |    (MIN({'neg': -n, 'lang': lang})).lang AS top_lang
        |  FROM (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
        |        FROM d GROUP BY source, lang)
        |  GROUP BY source),
        |dup AS (
        |  SELECT source,
        |    (COUNT(*) - COUNT(DISTINCT fp)) * 1000000 // COUNT(*) AS dup_ppm
        |  FROM d GROUP BY source)
        |SELECT vol.source, n_docs, n_tokens, vol.n_chars,
        |  n_tokens // n_docs AS tokens_per_doc,
        |  n_langs, top_lang, CAST(dup_ppm AS BIGINT) AS dup_ppm
        |FROM vol
        |JOIN lg ON vol.source = lg.source
        |JOIN dup ON vol.source = dup.source
        |ORDER BY vol.source""".stripMargin,
    "pipe_ngram_novelty" ->
      """WITH l AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
        |  FROM documents),
        |tri AS (
        |  SELECT DISTINCT doc_id, source,
        |    a || ' ' || b || ' ' || c AS tri
        |  FROM (
        |    SELECT doc_id, source,
        |      UNNEST(list_slice(toks, 1, len(toks) - 2)) AS a,
        |      UNNEST(list_slice(toks, 2, len(toks) - 1)) AS b,
        |      UNNEST(list_slice(toks, 3, len(toks))) AS c
        |    FROM l WHERE len(toks) >= 3)),
        |f AS (SELECT tri, MIN(doc_id) AS first_doc FROM tri GROUP BY tri)
        |SELECT source,
        |  CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_trigrams,
        |  CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) * 1000000 // COUNT(*) AS novelty_ppm
        |FROM tri t JOIN f ON t.tri = f.tri
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    "text_hapax_ratio" ->
      """WITH wc AS (
        |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (SELECT source, UNNEST(list_filter(string_split(text, ' '),
        |    t -> length(t) > 0)) AS w FROM documents)
        |  GROUP BY source, w),
        |r AS (
        |  SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_types,
        |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        |  FROM wc GROUP BY source)
        |SELECT source, n_tokens, n_types, n_hapax,
        |  n_types * 1000000 // n_tokens AS ttr_ppm,
        |  n_hapax * 1000000 // n_types AS hapax_ppm
        |FROM r ORDER BY source""".stripMargin,
    "text_vocab_coverage" ->
      """WITH vocab AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (SELECT UNNEST(list_filter(string_split(text, ' '),
        |    t -> length(t) > 0)) AS w FROM documents)
        |  GROUP BY w),
        |ranked AS (
        |  SELECT w, n,
        |    ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rk,
        |    SUM(n) OVER (ORDER BY n DESC, w
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM vocab),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM vocab)
        |SELECT CAST(rk AS BIGINT) AS k, w AS kth_word, n AS kth_count,
        |  CAST(cum AS BIGINT) AS cum_tokens,
        |  CAST(cum AS BIGINT) * 1000000 // tot.t AS coverage_ppm
        |FROM ranked CROSS JOIN tot
        |WHERE rk IN (1, 2, 5, 10, 20, 50)
        |ORDER BY k""".stripMargin,
    "pipe_quota_apportion" ->
      """WITH c AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS t FROM c),
        |b AS (
        |  SELECT source, n_docs,
        |    n_docs * 10000 // tot.t AS base,
        |    n_docs * 10000 % tot.t AS rem
        |  FROM c CROSS JOIN tot),
        |r AS (
        |  SELECT *,
        |    10000 - SUM(base) OVER () AS leftover,
        |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
        |  FROM b)
        |SELECT source, n_docs, base, rem,
        |  base + (CASE WHEN rk <= leftover THEN 1 ELSE 0 END) AS quota
        |FROM r ORDER BY source""".stripMargin,
    "pipe_dedup_funnel" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents),
        |s1 AS (
        |  SELECT MIN(doc_id) AS doc_id,
        |    (MIN({'doc_id': doc_id, 'text': text})).text AS text
        |  FROM base GROUP BY md5(text)),
        |s2 AS (
        |  SELECT MIN(doc_id) AS doc_id,
        |    (MIN({'doc_id': doc_id, 'text': text})).text AS text
        |  FROM s1
        |  GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))),
        |s3 AS (
        |  SELECT DISTINCT list_reduce(
        |    list_prepend(0::BIGINT,
        |      list_transform(
        |        list_slice(list_filter(string_split(text, ' '),
        |          t -> length(t) > 0), 1, 12),
        |        t -> ('0x' || substr(md5(t), 1, 4))::BIGINT)),
        |    (acc, x) -> (acc * 257 + x) % $P) AS fp3
        |  FROM s2),
        |c AS (
        |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM base) AS n0,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n1,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n2,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) AS n3)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage_no, 'exact_md5' AS stage,
        |    n0 AS n_in, n1 AS n_out, n0 - n1 AS n_removed FROM c
        |  UNION ALL
        |  SELECT 2, 'normalized_md5', n1, n2, n1 - n2 FROM c
        |  UNION ALL
        |  SELECT 3, 'prefix_cluster', n2, n3, n2 - n3 FROM c)
        |ORDER BY stage_no""".stripMargin,
    "text_pmi_bigrams" ->
      """WITH l AS (
        |  SELECT list_filter(string_split(text, ' '), t -> length(t) > 0)
        |    AS toks
        |  FROM documents),
        |uni AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT UNNEST(toks) AS w FROM l) GROUP BY w),
        |bi_all AS (
        |  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c_xy
        |  FROM (
        |    SELECT UNNEST(list_slice(toks, 1, len(toks) - 1)) AS x,
        |      UNNEST(list_slice(toks, 2, len(toks))) AS y
        |    FROM l WHERE len(toks) >= 2)
        |  GROUP BY x, y),
        |bi AS (SELECT * FROM bi_all WHERE c_xy >= 5),
        |tots AS (
        |  SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS m,
        |    (SELECT CAST(SUM(c_xy) AS BIGINT) FROM bi_all) AS n_bi)
        |SELECT bi.x || ' ' || bi.y AS bigram, bi.c_xy,
        |  ux.c AS c_x, uy.c AS c_y,
        |  ROUND(LN(CAST(bi.c_xy AS DOUBLE) * CAST(tots.m AS DOUBLE) *
        |    CAST(tots.m AS DOUBLE) / (CAST(tots.n_bi AS DOUBLE) *
        |      CAST(ux.c AS DOUBLE) * CAST(uy.c AS DOUBLE))), 6) AS pmi
        |FROM bi
        |JOIN uni ux ON bi.x = ux.w
        |JOIN uni uy ON bi.y = uy.w
        |CROSS JOIN tots
        |ORDER BY pmi DESC, bigram
        |LIMIT 20""".stripMargin,
    "text_winnowing" ->
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(l) AS tok, UNNEST(range(len(l))) AS pos
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(text, ' '), x -> length(x) > 0)
        |            AS l
        |        FROM documents)),
        |led AS (
        |  SELECT doc_id, pos, tok,
        |    LEAD(tok, 1) OVER w AS t1, LEAD(tok, 2) OVER w AS t2,
        |    LEAD(tok, 3) OVER w AS t3
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |kg AS (
        |  SELECT doc_id, pos,
        |    ('0x' || substr(md5(tok || ' ' || t1 || ' ' || t2 || ' ' || t3),
        |      1, 7))::BIGINT * 4294967296 + (4294967295 - pos) AS key
        |  FROM led WHERE t3 IS NOT NULL),
        |win AS (
        |  SELECT doc_id, pos, MIN(key) OVER (PARTITION BY doc_id
        |    ORDER BY pos ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS key_min
        |  FROM kg),
        |sel AS (
        |  SELECT DISTINCT doc_id, key_min // 4294967296 AS fp_hash,
        |    4294967295 - (key_min % 4294967296) AS fp_pos
        |  FROM win WHERE pos >= 4),
        |fp AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp,
        |    CAST(SUM(fp_hash) AS BIGINT) AS fp_sum
        |  FROM sel GROUP BY doc_id),
        |kgs AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kgrams
        |  FROM kg GROUP BY doc_id)
        |SELECT kgs.doc_id, n_kgrams, COALESCE(n_fp, 0) AS n_fp,
        |  COALESCE(fp_sum, 0) AS fp_sum
        |FROM kgs LEFT JOIN fp ON kgs.doc_id = fp.doc_id
        |ORDER BY kgs.doc_id""".stripMargin,
    "text_rolling_hash" ->
      s"""WITH h AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(0::BIGINT,
        |        list_transform(
        |          list_slice(list_filter(string_split(text, ' '), t -> length(t) > 0), 1, 12),
        |          t -> ('0x' || substr(md5(t), 1, 4))::BIGINT)),
        |      (acc, x) -> (acc * 257 + x) % $P) AS rhash
        |  FROM documents),
        |c AS (SELECT rhash, COUNT(*) AS cluster_size FROM h GROUP BY rhash)
        |SELECT doc_id, h.rhash, cluster_size
        |FROM h JOIN c ON h.rhash = c.rhash
        |WHERE cluster_size > 1
        |ORDER BY doc_id""".stripMargin,
    "text_unpivot_langs" ->
      """WITH langs(lang) AS (VALUES ('de'), ('en'), ('es'), ('fr'), ('zh')),
        |srcs AS (SELECT DISTINCT source FROM documents),
        |counts AS (
        |  SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY source, lang)
        |SELECT s.source, l.lang, COALESCE(c.n, 0) AS n
        |FROM srcs s CROSS JOIN langs l
        |LEFT JOIN counts c ON c.source = s.source AND c.lang = l.lang
        |ORDER BY s.source, l.lang""".stripMargin,
    "text_pivot_langs" ->
      """SELECT source,
        |  COUNT(*) FILTER (lang = 'de') AS n_de,
        |  COUNT(*) FILTER (lang = 'en') AS n_en,
        |  COUNT(*) FILTER (lang = 'es') AS n_es,
        |  COUNT(*) FILTER (lang = 'fr') AS n_fr,
        |  COUNT(*) FILTER (lang = 'zh') AS n_zh
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    "text_blocklist" ->
      """WITH lex(t, sev) AS (VALUES
        |  ('slow', 1), ('dup', 2), ('big', 1), ('stale', 3), ('broken', 3)),
        |tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id, COUNT(*) AS h,
        |    CAST(SUM(lex.sev) AS BIGINT) AS s,
        |    COUNT(DISTINCT tok.t) AS k
        |  FROM tok JOIN lex ON lex.t = tok.t
        |  WHERE length(tok.t) > 0
        |  GROUP BY doc_id),
        |per AS (
        |  SELECT d.lang, d.source,
        |    COALESCE(h.h, 0) AS n_hits, COALESCE(h.s, 0) AS sev_sum,
        |    COALESCE(h.k, 0) AS n_terms
        |  FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id),
        |roll AS (
        |  SELECT lang, source, COUNT(*) AS n_docs,
        |    CAST(SUM(n_hits) AS BIGINT) AS total_hits,
        |    CAST(MAX(n_terms) AS BIGINT) AS max_terms,
        |    CAST(SUM(CASE WHEN sev_sum >= 6 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_blocked
        |  FROM per GROUP BY lang, source)
        |SELECT lang, source, n_docs, total_hits, max_terms, n_blocked,
        |  n_blocked * 1000000 // n_docs AS blocked_ppm
        |FROM roll ORDER BY lang, source""".stripMargin,
    "text_word_count" ->
      """SELECT word, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE length(word) > 0
        |GROUP BY word
        |ORDER BY n DESC, word
        |LIMIT 20""".stripMargin,
    // deliberately the UNSALTED query: salting must never change the answer
    "text_word_count_salted" ->
      """SELECT word, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE length(word) > 0
        |GROUP BY word
        |ORDER BY n DESC, word
        |LIMIT 20""".stripMargin,
    "pipe_corpus_clean" ->
      """WITH d AS (
        |  SELECT doc_id, source, lang, text,
        |    len(string_split(text, ' ')) AS n_words,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS n_stop,
        |    length(text) AS n_chars_m
        |  FROM documents),
        |q AS (
        |  SELECT * FROM d
        |  WHERE n_words >= 20 AND n_words <= 1000 AND n_stop * 10 < n_words * 5),
        |dd AS (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY md5(trim(lower(text))) ORDER BY doc_id) AS rn
        |  FROM q)
        |SELECT source, lang,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_words) AS BIGINT) AS total_words,
        |  CAST(SUM(n_chars_m) AS DOUBLE) / CAST(SUM(n_words) AS BIGINT) AS chars_per_word
        |FROM dd WHERE rn = 1
        |GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin,
    "pipe_end_to_end" ->
      """WITH d AS (
        |  SELECT doc_id, source, text,
        |    len(string_split(text, ' ')) AS n_words,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS n_stop
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, source, text, n_words FROM d
        |  WHERE n_words >= 20 AND n_words <= 1000 AND n_stop * 10 < n_words * 5),
        |dd AS (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY md5(trim(lower(text))) ORDER BY doc_id) AS rn
        |  FROM q),
        |surv AS (
        |  SELECT doc_id, source, n_words, md5(text) AS th FROM dd WHERE rn = 1),
        |cap AS (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS crn
        |  FROM surv),
        |sp AS (
        |  SELECT source, n_words,
        |    CASE WHEN substr(th, 1, 1) IN ('c', 'd') THEN 'valid'
        |         WHEN substr(th, 1, 1) IN ('e', 'f') THEN 'test'
        |         ELSE 'train' END AS split,
        |    CAST(('0x' || substr(th, 1, 15)) AS BIGINT) AS dg
        |  FROM cap WHERE crn <= 15)
        |SELECT split, source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_words) AS BIGINT) AS total_words,
        |  bit_xor(dg) AS xor_digest
        |FROM sp
        |GROUP BY split, source
        |ORDER BY split, source""".stripMargin,
    "text_token_stats" ->
      """WITH d AS (
        |  SELECT source,
        |    len(string_split(text, ' ')) AS n_ws,
        |    len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_re,
        |    length(text) AS n_chars_m
        |  FROM documents)
        |SELECT source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_ws) AS BIGINT) AS total_ws_tokens,
        |  CAST(SUM(n_re) AS BIGINT) AS total_re_tokens,
        |  CAST(SUM(n_chars_m) AS BIGINT) AS total_chars,
        |  CAST(SUM(n_chars_m) AS DOUBLE) / CAST(SUM(n_ws) AS BIGINT) AS chars_per_token
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "text_quality" ->
      """WITH d AS (
        |  SELECT lang,
        |    len(string_split(text, ' ')) AS n_words,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS n_stop,
        |    length(text) AS n_chars_m
        |  FROM documents),
        |q AS (
        |  SELECT *, CASE WHEN n_words >= 20 AND n_words <= 1000
        |                  AND n_stop * 10 < n_words * 5 THEN 1 ELSE 0 END AS is_quality
        |  FROM d)
        |SELECT lang,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_words) AS BIGINT) AS total_words,
        |  CAST(SUM(n_stop) AS DOUBLE) / CAST(SUM(n_words) AS BIGINT) AS stopword_ratio,
        |  CAST(SUM(n_chars_m) AS DOUBLE) / CAST(SUM(n_words) AS BIGINT) AS chars_per_word,
        |  CAST(SUM(is_quality) AS BIGINT) AS n_quality
        |FROM q GROUP BY lang ORDER BY lang""".stripMargin,
    "text_langid" ->
      """WITH s AS (
        |  SELECT lang,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS v_article,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('spark', 'query', 'data'))) AS v_engine,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('join', 'merge', 'sort'))) AS v_ops
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN v_article >= v_engine AND v_article >= v_ops THEN 'articleish'
        |       WHEN v_engine >= v_ops THEN 'engineish'
        |       ELSE 'opsish' END AS predicted,
        |  COUNT(*) AS n_docs
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "text_fingerprint" ->
      """WITH f AS (SELECT md5(trim(lower(text))) AS fp FROM documents)
        |SELECT substr(fp, 1, 1) AS bucket,
        |  COUNT(*) AS n_docs,
        |  COUNT(DISTINCT fp) AS n_distinct,
        |  COUNT(*) - COUNT(DISTINCT fp) AS n_exact_dups,
        |  MIN(fp) AS min_fp
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "pipe_class_balance" ->
      """WITH n AS (
        |  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
        |m AS (SELECT MIN(n_docs) AS min_n FROM n),
        |r AS (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_kept,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_kept_ids
        |FROM r, m WHERE rk <= min_n
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "text_bm25" ->
      """WITH stats AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(len(string_split(text,' '))) AS DOUBLE) AS total_dl
        |  FROM documents),
        |dl AS (
        |  SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS dl
        |  FROM documents),
        |w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (
        |  SELECT doc_id, word, COUNT(*) AS tf FROM w
        |  WHERE word IN ('spark','table','join') GROUP BY doc_id, word),
        |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
        |t AS (
        |  SELECT tf.doc_id,
        |    CAST(ROUND( ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5)) *
        |      (tf.tf * 2.2) /
        |      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / (stats.total_dl / stats.n))) *
        |      1000000 ) AS BIGINT) AS term_micro
        |  FROM tf JOIN df USING (word) JOIN dl ON tf.doc_id = dl.doc_id, stats)
        |SELECT doc_id, CAST(SUM(term_micro) AS BIGINT) AS bm25_micro
        |FROM t GROUP BY doc_id
        |ORDER BY bm25_micro DESC, doc_id
        |LIMIT 25""".stripMargin,
    "text_tfidf" ->
      """WITH n AS (SELECT COUNT(*)::DOUBLE AS n FROM documents),
        |w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |agg AS (
        |  SELECT word, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY word)
        |SELECT word, tf, df,
        |  ROUND(tf * ln((SELECT n FROM n) / df), 6) AS tfidf
        |FROM agg
        |ORDER BY tfidf DESC, word
        |LIMIT 20""".stripMargin
  )
}
