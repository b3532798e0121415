package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorOps

/** Deduplication catalog over `documents` / `embeddings` — SURVEY.md §7.5,
  * the LLM-data-pipeline surface: exact (md5, see TextAnalysis.fingerprint),
  * MinHash+LSH, inverted-index n-gram Jaccard, SimHash, embedding-cosine.
  *
  * Scale design (the whole point of these operators):
  *  - NOTHING is quadratic in corpus size. Candidate pairs come from
  *    equi-joins on discriminative keys (LSH band signatures, shared rare
  *    shingles, equal simhash, sign buckets) — each a plain shuffle join
  *    whose output is bounded by Σ df², not |docs|².
  *  - all hashes are engine-portable (md5 hex, polynomial char fold mod
  *    1e9+7) so the DuckDB oracle reproduces them bit-for-bit.
  *  - Jaccard/cosine are exact integer-or-IEEE arithmetic — no rounding.
  */
object Dedup {

  private val P = 1000000007L
  private val NumHashes = 8 // minhash signature length; 4 bands × 2 rows

  /** doc_id + distinct 3-word shingles for an arbitrary (doc_id, text)
    * relation (guarded for <3-word docs; Spark's sequence() DESCENDS when
    * stop<start, so the guard is not optional). Shared by the batch
    * entries and the streaming admission gate so both sides shingle
    * identically by construction. */
  private[graft] def shingleDocs(d: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    d.select(
      col("doc_id"),
      when(size(toks) >= 3,
        array_distinct(transform(sequence(lit(1), size(toks) - 2),
          i => array_join(slice(toks, i, lit(3)), " "))))
        .otherwise(array().cast("array<string>")).as("shingles"))
  }

  private def shingled(spark: SparkSession, dir: String): DataFrame =
    shingleDocs(Tables.documents(spark, dir))

  private val shingledSql =
    """SELECT doc_id,
      |  list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
      |    THEN list_transform(generate_series(1, len(string_split(text,' ')) - 2),
      |           i -> array_to_string(list_slice(string_split(text,' '), i, i + 2), ' '))
      |    ELSE [] END) AS shingles
      |FROM documents""".stripMargin

  /** The df-annotated rare inverted index ex(doc_id, g, df) — every
    * posting of a shingle with df ≤ MaxShingleDf — scratch-persisted once
    * per (dataset, documents mtime) via the graph-family memo pattern
    * (r10 verdict item #3): `dedup_ngram_jaccard`, `dedup_ngram_prefix`,
    * `dedup_containment`, and `dedup_lsh_curve` all start from this exact
    * relation and before the memo each rebuilt shingles + the df hash-agg
    * per call. Longs and strings round-trip parquet exactly, so every
    * consumer is hash-identical to the inline derivation. At 100 TB this
    * is the production posting-list build: one tokenize+df shuffle per
    * corpus generation, every similarity join reads the index. */
  private def rareIndex(spark: SparkSession, dir: String): DataFrame =
    Tables.scratchRelation(spark, dir, "dedup_rare_ex", Seq("documents"),
        s"df${MaxShingleDf}_sh3") { // key carries the df cap + shingle width (ADVICE r11 #1)
      val exAll = shingled(spark, dir)
        .select(col("doc_id"), explode(col("shingles")).as("g"))
      val rare = exAll.groupBy(col("g"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") <= MaxShingleDf)
      exAll.join(rare, Seq("g")).select(col("doc_id"), col("g"), col("df"))
    }

  /** Per-doc FULL distinct-shingle counts sizes(doc_id, n) — the exact
    * Jaccard/containment denominators (uncapped: only the index is
    * df-capped, never the set sizes), persisted next to `rareIndex`. */
  private def docSizes(spark: SparkSession, dir: String): DataFrame =
    Tables.scratchRelation(spark, dir, "dedup_sizes", Seq("documents"), "sh3") {
      shingled(spark, dir)
        .select(col("doc_id"), size(col("shingles")).cast("long").as("n"))
    }

  /** MinHash + LSH near-dup pairs: shingle → 8 portable minhash lanes
    * (md5 is computed ONCE per shingle; lane i is the 16-bit hex slice
    * md5[4i..4i+4) — one digest instead of eight, same independence in
    * expectation) → 4 bands of 2 lanes → candidates = band-equality join →
    * exact Jaccard verification ≥ 0.7. The standard scale pipeline: the
    * only join key is the band signature, so work is Σ(bucket size²) over
    * near-dup buckets, never |docs|²; 16-bit lanes only add band collisions,
    * which the exact-Jaccard stage filters.
    *
    * The signature stage is a pure PROJECTION: `transform` hashes each
    * shingle in place and `array_min(transform(...))` takes each lane's
    * minimum per doc — higher-order functions over the shingle array, no
    * explode, no hash-agg, NO SHUFFLE. (The previous formulation exploded
    * shingles ×~|doc| rows and aggregated them back; per-doc minima never
    * needed cross-row work in the first place.) The band self-join is the
    * pipeline's only wide stage. Docs with <3 words get null lanes, which
    * can never equal another band value, matching the explode
    * formulation's drop-the-doc behavior. */
  /** bands(doc_id, band_idx, band_val) from (doc_id, shingles) — the
    * signature stage as a pure projection (no explode of shingles, no
    * shuffle), shared by `minhashLsh`, the admission-gate entry, and the
    * streaming gate. */
  private[graft] def bandRelation(sh: DataFrame): DataFrame = {
    val sig = sh
      .select(col("doc_id"), transform(col("shingles"), g => md5(g)).as("hs"))
      .select(col("doc_id") +: (0 until NumHashes).map(i =>
        array_min(transform(col("hs"), h => substring(h, 4 * i + 1, 4))).as(s"s$i")): _*)
    sig.select(col("doc_id"), explode(array(
      (0 until NumHashes / 2).map(b =>
        struct(lit(b).as("band_idx"), concat(col(s"s${2 * b}"), col(s"s${2 * b + 1}")).as("band_val"))): _*
    )).as("band")).select(col("doc_id"), col("band.band_idx"), col("band.band_val"))
  }

  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir).cache()
    // r13: band buckets grouped once — candidate pairs from the in-row
    // C(n,2) generator over each bucket's sorted member array (identical
    // pair set to the old band self-join; one groupBy exchange instead of
    // two shuffled join sides). See embeddingLshWith's bucket note.
    val cand = Recommend.arrayPairs(
        bandRelation(sh)
          .groupBy(col("band_idx"), col("band_val"))
          .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
          .select(col("ds")),
        "ds", "doc_a", "doc_b")
      .distinct()
    val withSets = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), Seq("doc_b"))
    withSets
      .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("n_inter")))
      .filter(col("jaccard") >= 0.7)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Admission verdicts for arriving docs against a STATIC near-dup
    * index — the kernel both `dedup_admission_gate` (batch twin) and
    * `streaming.NearDupGateStream` (per micro-batch) run, so batch and
    * stream verdicts agree by construction. `arrSh` is the arrivals'
    * (doc_id, shingles); `baseSh`/`baseBands` are the corpus index
    * relations (`baseBands` pre-renamed to base_id). One band equi-join
    * (work = Σ bucket², never |arrivals|·|corpus|) → exact-Jaccard verify
    * ≥ 0.7 → best match by (jaccard desc, base_id) — the per-doc window
    * partitions on doc_id, so no global shuffle point. Output: one row
    * per arrival — (doc_id, verdict admit|reject, dup_of, jaccard). */
  private[graft] def gateVerdicts(arrSh: DataFrame, baseSh: DataFrame,
      baseBands: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val arrBands = bandRelation(arrSh)
    // self-exclusion: an arrival never matches its OWN id in the index —
    // load-bearing for replay idempotence in the growing stream gate,
    // where an at-least-once re-run judges a doc against a store that
    // already holds it (a no-op for the batch entry's disjoint id sets)
    val cand = arrBands.join(baseBands, Seq("band_idx", "band_val"))
      .filter(col("doc_id") =!= col("base_id"))
      .select(col("doc_id"), col("base_id")).distinct()
    val verified = cand
      .join(baseSh.select(col("doc_id").as("base_id"), col("shingles").as("sa")),
        Seq("base_id"))
      .join(arrSh.select(col("doc_id"), col("shingles").as("sb")), Seq("doc_id"))
      .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("n_inter")))
      .filter(col("jaccard") >= 0.7)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("jaccard").desc, col("base_id"))
    val best = verified.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("base_id").as("dup_of"), col("jaccard"))
    arrSh.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("dup_of").isNull, lit("admit")).otherwise(lit("reject")).as("verdict"),
        col("dup_of"), col("jaccard"))
  }

  /** NEAR-DUP ADMISSION GATE, batch twin — the ingest-time counterpart of
    * the pair entries: instead of enumerating duplicate PAIRS after the
    * fact, decide per arriving document whether it may ENTER the corpus.
    * Every 10th document (doc_id % 10 == 7) plays the day's arrivals; the
    * rest are the standing corpus whose band index gates admission. A
    * rejected arrival reports its best base match (highest Jaccard, ties
    * to the lowest base id) — the provenance a data-curation pipeline
    * logs with every drop. `streaming.NearDupGateStream` runs the
    * IDENTICAL kernel per micro-batch (NearDupGateStreamSpec proves
    * stream ≡ batch and slicing-invariance); this entry is the DuckDB-
    * oracled anchor for both. Scale: the arrivals-side band join is the
    * only wide stage — Σ bucket² like `dedup_minhash_lsh`, with the
    * static index built once and reused across micro-batches online. */
  def admissionGate(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir).cache()
    val isArrival = col("doc_id") % 10 === 7
    val baseSh = sh.filter(!isArrival)
    val baseBands = bandRelation(baseSh)
      .select(col("doc_id").as("base_id"), col("band_idx"), col("band_val"))
    gateVerdicts(sh.filter(isArrival), baseSh, baseBands)
      .orderBy(col("doc_id"))
  }

  /** Inverted-index pair volume guard: shingles shared by more than this
    * many docs are dropped from the index before the pair join. Σ df² is
    * the join's output size, so one boilerplate shingle ("terms of
    * service …") in a templated corpus would otherwise contribute df²
    * pairs on its own. Docs pairs whose ONLY shared shingles are capped
    * ones are missed — for 3-word shingles at jac ≥ 0.7 such pairs are
    * near-boilerplate by definition, and the harness corpus has max
    * df ≪ cap, so the capped and uncapped outputs are identical there
    * (pinned by OperatorSpec). */
  private[graft] val MaxShingleDf = 1000L

  /** Exact n-gram Jaccard near-dup pairs via inverted index: explode
    * distinct shingles, drop shingles with df > MaxShingleDf (see above),
    * equi-join on the shingle, count shared shingles per pair, then
    * Jaccard from exact FULL set sizes (only the index is capped, not the
    * denominators). Pair rows = Σ df² over surviving shingles — bounded
    * by |docs|·cap even on templated corpora. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(rareIndex(spark, dir).select(col("doc_id"), col("g")),
      docSizes(spark, dir))

  /** Jaccard pair verification from an inverted index + full set sizes —
    * the shared tail of `ngramJaccard` (persisted index) and
    * `ngramJaccardCapped` (inline, cap-parameterized for the spec). */
  private def jaccardPairs(ex: DataFrame, sizes: DataFrame): DataFrame = {
    val inter = ex.as("a").join(ex.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("jaccard", col("n_inter").cast("double") / (col("na") + col("nb") - col("n_inter")))
      .filter(col("jaccard") >= 0.7)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The (bands, rows-per-band) configurations the LSH sizing curve
    * evaluates — every factorization of the 12-lane signature budget. */
  private[graft] val LshCurveConfigs = Seq((2, 6), (3, 4), (4, 3), (6, 2), (12, 1))

  /** The banded-minhash S-curve P(candidate | s) = 1 − (1 − s^r)^b as a
    * SHARED FORMULA STRING over a `jaccard` column — explicit
    * left-associative multiplication chains, never pow(): libm pow is not
    * correctly rounded and the repo's determinism rule is one identical
    * IEEE op sequence in both engines. */
  private def sCurveExpr(b: Int, r: Int): String = {
    def chain(base: String, k: Int) = Seq.fill(k)(base).mkString("(", " * ", ")")
    s"(1.0 - ${chain(s"(1.0 - ${chain("jaccard", r)})", b)})"
  }

  /** LSH index SIZING curve (the Leskovec–Rajaraman–Ullman S-curve
    * analysis, MMDS §3.4) evaluated against THIS corpus's real pair
    * similarities — the readout that decides the band/row split before a
    * 100 TB minhash index is built: for every factorization (b, r) of the
    * signature budget, the expected number of candidate pairs
    * Σ_pairs [1 − (1 − s^r)^b] and the count of pairs the config would
    * catch with ≥50% probability. More bands = catch lower similarities =
    * more candidate volume; the curve shows exactly what each split buys
    * and costs ON THE DATA, not on a textbook similarity prior —
    * `dedup_minhash_lsh`'s (4, 2) default sits on this curve.
    *
    * Determinism: s is ONE IEEE division of exact integers; the S-curve
    * is the shared explicit-multiplication formula string (no libm at
    * all), per-pair terms round-9 → DECIMAL(18,9) exact sums (the
    * JS-divergence rule); the ≥0.5 test compares the identical double.
    * Scale: the pair relation is the df-capped inverted index (Σ df²
    * bounded, the module guard); the curve itself is a 5× projection +
    * one 5-row hash-agg over it. */
  def lshCurve(spark: SparkSession, dir: String): DataFrame = {
    val ex = rareIndex(spark, dir).select(col("doc_id"), col("g"))
    val sizes = docSizes(spark, dir)
    val pairs = ex.as("a").join(ex.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select((col("n_inter").cast("double") /
        (col("na") + col("nb") - col("n_inter"))).as("jaccard"))
    val termCase = LshCurveConfigs.map { case (b, r) =>
      s"WHEN bands = $b THEN ${sCurveExpr(b, r)}"
    }.mkString("CASE ", " ", " END")
    val configs = {
      import spark.implicits._
      LshCurveConfigs.toDF("bands", "rows_per_band")
    }
    pairs.crossJoin(broadcast(configs))
      .withColumn("p", expr(termCase))
      .withColumn("term", round(col("p"), 9)
        .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("p") > 0.5, 1L).otherwise(0L)).as("n_likely"),
        sum(col("term")).cast("double").as("expected_cands"))
      .orderBy(col("bands"))
  }

  /** DuckDB oracle for `dedup_lsh_curve` — the identical inverted index
    * and the SAME per-config formula strings. */
  private[graft] def lshCurveOracle: String = {
    val termCase = LshCurveConfigs.map { case (b, r) =>
      s"WHEN c.bands = $b THEN ${sCurveExpr(b, r)}"
    }.mkString("CASE ", " ", " END")
    val cfgRows = LshCurveConfigs.map { case (b, r) => s"($b, $r)" }.mkString(", ")
    s"""WITH sh AS ($shingledSql),
      |ex_all AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
      |rare AS (SELECT g FROM ex_all GROUP BY g HAVING COUNT(*) <= $MaxShingleDf),
      |ex AS (SELECT doc_id, g FROM ex_all WHERE g IN (SELECT g FROM rare)),
      |sizes AS (SELECT doc_id, len(shingles)::BIGINT AS n FROM sh),
      |pairs AS (
      |  SELECT n_inter::DOUBLE / (na.n + nb.n - n_inter) AS jaccard
      |  FROM (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      |    GROUP BY 1, 2) i
      |  JOIN sizes na ON na.doc_id = i.doc_a
      |  JOIN sizes nb ON nb.doc_id = i.doc_b),
      |cfg(bands, rows_per_band) AS (VALUES $cfgRows),
      |terms AS (
      |  SELECT c.bands, c.rows_per_band,
      |    $termCase AS p
      |  FROM pairs CROSS JOIN cfg c)
      |SELECT bands, rows_per_band,
      |  COUNT(*) AS n_pairs,
      |  CAST(SUM(CASE WHEN p > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_likely,
      |  CAST(SUM(CAST(ROUND(p, 9) AS DECIMAL(18,9))) AS DOUBLE) AS expected_cands
      |FROM terms GROUP BY 1, 2
      |ORDER BY bands""".stripMargin
  }

  /** Cap-parameterized body; the spec runs it cap-less (Long.MaxValue) to
    * pin that the cap is a no-op on the harness corpus. Built INLINE (not
    * from the persisted index, which bakes in MaxShingleDf) so the spec
    * exercises the genuine uncapped derivation. */
  private[graft] def ngramJaccardCapped(spark: SparkSession, dir: String, cap: Long): DataFrame = {
    val sh = shingled(spark, dir).cache()
    val exAll = sh.select(col("doc_id"), explode(col("shingles")).as("g"))
    val rare = exAll.groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap)
      .select(col("g"))
    val ex = exAll.join(rare, Seq("g"), "left_semi")
    val sizes = sh.select(col("doc_id"), size(col("shingles")).cast("long").as("n"))
    jaccardPairs(ex, sizes)
  }

  /** Prefix-filtered twin of `dedup_ngram_jaccard` (Chaudhuri et al.'s
    * prefix filter / PPJoin family, ICDE 2006): IDENTICAL output, strictly
    * fewer candidate pairs. The theorem: under any global token order, two
    * sets with |A∩B| ≥ α must share a token inside each set's first
    * |X| − α + 1 tokens; and Jaccard ≥ t forces |A∩B| ≥ ⌈t·|A|⌉ (since
    * I ≥ t(na+nb−I) and I ≤ nb give I(1+t) ≥ t·na + t·I). So each doc
    * indexes only its first |rare(X)| − ⌈t·n⌉ + 1 rare shingles in the
    * canonical rarest-first (df, g) order, the candidate equi-join runs on
    * that prefix index, and exact intersections are recounted from the
    * full rare index for candidates only. ⌈0.7·n⌉ is computed as
    * (7n+9) DIV 10 — pure integer, no float threshold edge.
    *
    * At 100 TB this is the difference between Σ df² pair rows over EVERY
    * surviving shingle and Σ df² over prefix tokens only — the standard
    * set-similarity-join scaling trick, and the oracle is the UNFILTERED
    * semantic twin (same SQL as dedup_ngram_jaccard), so completeness of
    * the filter is hash-checked, not assumed. DedupConsistencySpec also
    * pins output equality and measures the candidate reduction. */
  def ngramJaccardPrefix(spark: SparkSession, dir: String): DataFrame = {
    val (prefix, ex, sizes) = prefixIndex(spark, dir)
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // r13 recount rewrite (guide §2.3/§2.4 — shuffle fewer bytes, drop an
    // exchange): the old recount exploded each candidate pair by doc_a's
    // full rare set (cands ⋈ ex = 13.0M rows at sf0.1 for 202k pairs),
    // shuffled that on (doc_b, g), and hash-agged it back down. The
    // minhash entry's verified-pair shape does the same count pair-
    // locally: attach each side's rare-shingle ARRAY (one |docs|-sized
    // grouped relation) and take size(array_intersect) in-row — exact
    // integer, same n_inter (every candidate shares its prefix shingle,
    // so the old inner join never dropped a pair either). Measured
    // (interleaved A/B, min): 2.5-3.0 s → 1.6-1.8 s; no broadcast hint —
    // the array relation is docs-sized, and the measured broadcast-build
    // cost exceeded the join saving (3.9 s).
    val rareSets = ex.groupBy(col("doc_id")).agg(collect_list(col("g")).as("gs"))
    val inter = cands
      .join(rareSets.select(col("doc_id").as("doc_a"), col("gs").as("ga")), Seq("doc_a"))
      .join(rareSets.select(col("doc_id").as("doc_b"), col("gs").as("gb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("ga"), col("gb"))).cast("long").as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("jaccard", col("n_inter").cast("double") / (col("na") + col("nb") - col("n_inter")))
      .filter(col("jaccard") >= 0.7)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The prefix index + supporting relations behind `dedup_ngram_prefix`:
    * (prefix(doc_id, g), full rare index ex(doc_id, g, df),
    * sizes(doc_id, n)). */
  private def prefixIndex(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val ex = rareIndex(spark, dir)
      .cache() // probe side of the candidate join + exact recount
    val sizes = docSizes(spark, dir)
    // the prefix index IS the index artifact — a set-similarity deployment
    // builds it once next to the posting list and probes it per query, so
    // it is scratch-persisted like its substrate (r11; strings/longs,
    // parquet-exact)
    val prefix = Tables.scratchRelation(spark, dir, "dedup_prefix_j",
        Seq("documents"), s"df${MaxShingleDf}_t7of10") { // threshold 0.7 prefix rule in the key
      import org.apache.spark.sql.expressions.Window
      val rareN = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("nr"))
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("g"))
      ex.withColumn("rk", row_number().over(wDoc).cast("long"))
        .join(sizes, Seq("doc_id"))
        .join(rareN, Seq("doc_id"))
        .filter(col("rk") <= col("nr") - expr("(7 * n + 9) DIV 10") + lit(1L))
        .select(col("doc_id"), col("g"))
    }
    (prefix, ex, sizes)
  }

  /** Candidate-join volume of the prefix index (Σ df·(df−1)/2 over prefix
    * tokens) — exposed so DedupConsistencySpec can measure the reduction
    * against the full inverted index. */
  private[graft] def prefixCandidateVolume(spark: SparkSession, dir: String): Long = {
    val (prefix, _, _) = prefixIndex(spark, dir)
    prefix.groupBy(col("g")).agg(count(lit(1)).as("dfp"))
      .agg(sum(expr("(dfp * (dfp - 1)) DIV 2")))
      .collect().head.getLong(0)
  }

  /** Containment near-dup (asymmetric Jaccard): |S(a)∩S(b)| / |S(a)| —
    * the relation symmetric Jaccard structurally misses: an excerpt or
    * quotation `a` whose shingles are a subset of a much larger `b` has
    * Jaccard ≈ |a|/|b| (tiny) but containment ≈ 1. Real pipelines use it
    * for quote/boilerplate-absorption dedup where the jaccard entry finds
    * only same-size near-dups.
    *
    * Same df-capped inverted index as `dedup_ngram_jaccard` (pair rows
    * Σdf²-bounded, denominators from EXACT full set sizes); both
    * directions are emitted since containment is not symmetric, and a
    * min-shingle floor keeps trivially-contained tiny docs out. The score
    * is one IEEE division of two exact integers — engine-portable, fully
    * oracled. */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    val ex = rareIndex(spark, dir).select(col("doc_id"), col("g"))
    val sizes = docSizes(spark, dir)
    val inter = ex.as("a").join(ex.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .withColumn("containment", col("n_inter").cast("double") / col("na"))
      .filter(col("na") >= 5 && col("containment") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("na"), col("n_inter"), col("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Prefix-filtered twin of `dedup_containment` (the asymmetric/
    * containment variant of the PPJoin prefix filter already shipped for
    * `dedup_ngram_prefix` above): IDENTICAL output, strictly fewer
    * candidate pairs. Containment ≥ 0.8 forces
    * |S(a)∩S(b)| ≥ ⌈0.8·|S(a)|⌉ = α(a), and n_inter is counted over the
    * rare index, so rare(A) must share a shingle with rare(B) inside
    * rare(A)'s first |rare(A)| − α(a) + 1 shingles under the canonical
    * rarest-first (df, g) order — if all shared shingles sat past that
    * prefix, at most α(a) − 1 could be shared. Containment is asymmetric:
    * only the SUBJECT side (doc_a, the denominator) is prefix-indexed;
    * the probe side keeps the FULL rare index, so no b-side pair is ever
    * missed. α uses the pure-integer ⌈0.8n⌉ = (8n+9) DIV 10 idiom, and
    * the subject-side `n >= 5` floor mirrors the entry's output filter
    * (docs below the floor can never emit a row as doc_a). Subject docs
    * whose rare count nr < α(a) drop out entirely — they cannot reach the
    * threshold even if every rare shingle is shared.
    *
    * At 100 TB this turns the candidate join from Σ df·(df−1) ordered
    * pairs over EVERY surviving shingle into Σ dfp·(df−1) with dfp the
    * tiny prefix df — the same scaling trick as `ngramJaccardPrefix`, and
    * the oracle is the UNFILTERED semantic twin (the same SQL
    * `dedup_containment` always had), so completeness of the filter is
    * hash-checked, not assumed. DedupConsistencySpec additionally pins
    * row-for-row equality against `containmentPairs` and measures the
    * candidate reduction. */
  def containmentPairsPrefix(spark: SparkSession, dir: String): DataFrame = {
    val (prefix, ex, sizes) = containmentPrefixIndex(spark, dir)
    val cands = prefix.as("a").join(ex.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // r13 recount rewrite — same array-intersect move as
    // `ngramJaccardPrefix` (see its comment): pair-local exact count
    // instead of the explode → (doc_b, g) shuffle → hash-agg chain.
    val rareSets = ex.groupBy(col("doc_id")).agg(collect_list(col("g")).as("gs"))
    val inter = cands
      .join(rareSets.select(col("doc_id").as("doc_a"), col("gs").as("ga")), Seq("doc_a"))
      .join(rareSets.select(col("doc_id").as("doc_b"), col("gs").as("gb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("ga"), col("gb"))).cast("long").as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .withColumn("containment", col("n_inter").cast("double") / col("na"))
      .filter(col("na") >= 5 && col("containment") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("na"), col("n_inter"), col("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The containment prefix index + supporting relations:
    * (prefix(doc_id, g) — subject side only, full rare index
    * ex(doc_id, g, df), sizes(doc_id, n)). */
  private def containmentPrefixIndex(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val ex = rareIndex(spark, dir)
      .cache() // reused: probe side of the candidate join + exact recount
    val sizes = docSizes(spark, dir)
    // persisted index artifact, like prefixIndex above (r11)
    val prefix = Tables.scratchRelation(spark, dir, "dedup_prefix_c",
        Seq("documents"), s"df${MaxShingleDf}_t8of10_n5") { // 0.8 containment rule + n≥5 floor
      import org.apache.spark.sql.expressions.Window
      val rareN = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("nr"))
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("g"))
      ex.withColumn("rk", row_number().over(wDoc).cast("long"))
        .join(sizes, Seq("doc_id"))
        .join(rareN, Seq("doc_id"))
        .filter(col("n") >= 5) // subject-side floor = the entry's na >= 5 cut
        .filter(col("rk") <= col("nr") - expr("(8 * n + 9) DIV 10") + lit(1L))
        .select(col("doc_id"), col("g"))
    }
    (prefix, ex, sizes)
  }

  /** Ordered-pair candidate volume of the containment prefix join
    * (Σ over shingles of dfp·(df−1): subject prefix rows × full-index
    * partners) — exposed so DedupConsistencySpec can measure the
    * reduction against the unfiltered Σ df·(df−1). */
  private[graft] def containmentPrefixCandidateVolume(spark: SparkSession, dir: String): Long = {
    val (prefix, ex, _) = containmentPrefixIndex(spark, dir)
    val dfFull = ex.groupBy(col("g")).agg(count(lit(1)).as("dff"))
    prefix.groupBy(col("g")).agg(count(lit(1)).as("dfp"))
      .join(dfFull, Seq("g"))
      .agg(sum(col("dfp") * (col("dff") - lit(1L))))
      .collect().head.getLong(0)
  }

  /** Jaccard thresholds the ROI curve sweeps — shared by the Spark plan
    * and the generated oracle. */
  private[graft] val RoiThresholds = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** Dedup ROI curve — the budgeting readout a 100 TB dedup run computes
    * BEFORE committing to a threshold (the `dedup_lsh_curve` sibling on
    * the output side: that entry prices the candidate INDEX, this one
    * prices the DELETION): for every threshold in [[RoiThresholds]], the
    * surviving pair count, the docs a keep-smallest-id pair rule would
    * drop, and the exact characters reclaimed. Pair-level, deliberately
    * not transitive-closure (`dedup_cc_*` owns closure); doc_b of an
    * a < b pair is the drop candidate.
    *
    * Built ENTIRELY on the persisted `rareIndex`/`docSizes` substrates —
    * the pair relation is computed once and the 5-threshold sweep is a
    * broadcast cross join over it, so the whole curve costs one
    * candidate join (the point of materializing the posting list).
    * Jaccard is one IEEE division of exact integers compared to exact
    * double literals — engine-portable with no rounding rules. */
  def roiCurve(spark: SparkSession, dir: String): DataFrame = {
    val ex = rareIndex(spark, dir).select(col("doc_id"), col("g"))
    val sizes = docSizes(spark, dir)
    val inter = ex.as("a").join(ex.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    val jac = inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(col("doc_b"),
        (col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter"))).as("jaccard"))
    val thr = spark.createDataFrame(RoiThresholds.map(Tuple1(_))).toDF("thr")
    val cand = jac.crossJoin(broadcast(thr))
      .filter(col("jaccard") >= col("thr"))
      .cache() // pair counts + the distinct-drop projection read it
    val pairAgg = cand.groupBy(col("thr")).agg(count(lit(1)).as("n_pairs"))
    val dropAgg = cand.select(col("thr"), col("doc_b")).distinct()
      .join(Tables.documents(spark, dir)
        .select(col("doc_id").as("doc_b"), col("n_chars")), Seq("doc_b"))
      .groupBy(col("thr"))
      .agg(count(lit(1)).as("n_docs_dropped"),
        sum(col("n_chars")).as("chars_dropped"))
    // the output is DRIVEN from the literal threshold relation (ADVICE r11
    // #4): a threshold with zero surviving pairs must still report a 0-row
    // curve point, not vanish from the budgeting readout. Joining on the
    // DOUBLE thr is safe here by construction — every thr on the agg side
    // is the identical literal bits broadcast from this same relation.
    thr.join(broadcast(pairAgg), Seq("thr"), "left")
      .join(broadcast(dropAgg), Seq("thr"), "left")
      .select(col("thr"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_dropped"), lit(0L)).as("n_docs_dropped"),
        coalesce(col("chars_dropped"), lit(0L)).as("chars_dropped"))
      .orderBy(col("thr"))
  }

  /** Per-doc 16-bit simhash signature (doc_id, simhash): portable word
    * hash (char fold: acc*31+ascii mod 1e9+7, codegen'd PolyHash —
    * identical to the ascii-per-char HOF fold, mirrored in the oracle by
    * list_reduce since DuckDB's list_reduce is 2-arg), 16 sign-summed
    * bits. 16 bits keeps the signature oracle-portable at demo scale; a
    * production corpus uses 64 bits with the same code shape. */
  private def simhashSigs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val words = d.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val h = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.PolyHash(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("w"))))
    val hashed = words.withColumn("h", h)
    val bitSums = (0 until 16).map(j =>
      sum(when(shiftright(col("h"), j) % 2 === 1, 1L).otherwise(-1L)).as(s"b$j"))
    val sums = hashed.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val simhash = (0 until 16).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    sums.select(col("doc_id"), simhash.as("simhash"))
  }

  /** SimHash clustering: exact-signature clusters with >1 member —
    * near-identical docs collapse to the same signature. */
  def simhashClusters(spark: SparkSession, dir: String): DataFrame =
    simhashSigs(spark, dir)
      .groupBy(col("simhash"))
      .agg(count(lit(1)).as("n_docs"),
           min(col("doc_id")).as("min_doc"),
           max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("simhash"))

  /** True simhash NEAR-dup matching (Manku-style): pairs within Hamming
    * distance 1, found WITHOUT an all-pairs scan. The 16-bit signature
    * splits into two 8-bit blocks; by pigeonhole, any pair differing in
    * ≤1 bit agrees exactly on at least one block, so block equality is a
    * COMPLETE candidate generator — an equi-join like every other dedup
    * path here (work = Σ block-bucket², never |docs|²). Candidates verify
    * with codegen'd `bit_count(xor)`. At 64 bits the same shape runs
    * k+1 blocks for Hamming ≤ k. */
  def simhashHamming(spark: SparkSession, dir: String): DataFrame = {
    val sigs = simhashSigs(spark, dir).cache()
    val blocks = sigs.select(col("doc_id"), col("simhash"), explode(array(
      (0 until 2).map(b => struct(
        lit(b).as("block_idx"),
        (shiftright(col("simhash"), b * 8) % 256).as("block_val"))): _*
    )).as("blk")).select(col("doc_id"), col("simhash"),
      col("blk.block_idx"), col("blk.block_val"))
    blocks.as("a").join(blocks.as("b"),
        col("a.block_idx") === col("b.block_idx") &&
        col("a.block_val") === col("b.block_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("ha"), col("b.simhash").as("hb"))
      .distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= 1)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Embedding-cosine near-dups via banded sign-LSH — the scale path.
    * 12 bands × 5 sign bits (dims 1–60): a pair is a candidate iff it
    * shares the exact band value in ANY band (minhash-style OR-
    * construction), then exact cosine ≥ 0.45 verifies candidates only.
    * Every join key is a band equality — work is Σ(bucket²) per band,
    * never |corpus|². Measured on the harness corpus: ~1–3% of the all-
    * pairs volume at ~85% recall vs the brute baseline (`embeddingPairs`,
    * spec-gated in SimilaritySpec); recall/cost tunes with (bands, width)
    * exactly like minhash (narrower bands → more candidates → higher
    * recall).
    *
    * BAND-WIDTH SIZING RULE (r13 — found by the sf10 two-point probe):
    * a FIXED 5-bit signature gives only 32 buckets per band, so mean
    * occupancy grows linearly with the corpus and Σ(bucket²) grows
    * QUADRATICALLY — at 200k vectors that is ~7.5e9 candidate rows and
    * the entry OOMs where sf1's 20k ran flat. The standard LSH answer is
    * to grow bits with n (the AND-construction): the bucket key widens
    * by the NEXT band's 5-bit value once the corpus outgrows the space —
    * level 1 (≤6,400 vecs, ≈200/bucket) = the original 5-bit key, level
    * 2 (≤204,800) ANDs band b with band b+1 (10 bits, 1,024 buckets),
    * level 3 ANDs b+2 too (15 bits). The level is derived IN-PLAN from
    * count(embeddings) (1-row broadcast, the A4 pattern) and mirrored in
    * the oracle as a CASE on the same count — at every harness SF the
    * rule sits at level 1, so those oracles are bit-identical to r12;
    * at sf1+ it holds occupancy ≈ flat, which is the 100 TB contract.
    * Sharper bands trade threshold-pair recall for bounded cost — the
    * same S-curve move the minhash entry documents; near-dup pairs
    * (cos ≥ 0.9) agree on almost every hyperplane and keep colliding. */
  def embeddingLsh(spark: SparkSession, dir: String): DataFrame =
    embeddingLshWith(spark, dir)

  /** The `dedup_embedding_lsh_capped` twin — the bucket-cap SIZING RULE
    * implemented, not a fixed literal (r12: a literal tuned at sf0.01
    * zero-rowed the entry at sf0.1 — the zero-row audit's catch): the cap
    * is an OCCUPANCY knob, 1.3× the mean band-bucket occupancy, computed
    * in-plan as exact integer arithmetic — cap = 13·n_vec DIV 320 (mean
    * occupancy = 12·n/384 possible buckets; ×1.3 = 13n/320·(12/12)).
    * At every harness SF this drops the over-occupied tail and keeps the
    * body (sf0.001/sf0.01: cap 20 vs max 29; sf0.1: cap 81 vs max 83),
    * and on the skewed sf1 slice it drops exactly the planted
    * 900-member cluster. */
  def embeddingLshCapped(spark: SparkSession, dir: String): DataFrame =
    embeddingLshWith(spark, dir, occupancyCap = true)

  private[graft] def embeddingLshWith(spark: SparkSession, dir: String,
                                      occupancyCap: Boolean = false,
                                      forceLevel: Option[Int] = None): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
      .cache()
    // band-width level from the corpus size (1-row broadcast; the
    // sizing rule in the entry scaladoc). forceLevel is a spec-only
    // hook to pin the AND-construction's refinement property at sf0.001.
    val lvlRel = forceLevel match {
      case Some(l) => spark.range(1).select(lit(l).as("lvl"))
      case None => Tables.embeddings(spark, dir)
        .agg(count(lit(1)).as("nv"))
        .select(when(col("nv") <= EmbLvl1Max, 1)
          .when(col("nv") <= EmbLvl2Max, 2)
          .when(col("nv") <= EmbLvl3Max, 3).otherwise(4).as("lvl"))
    }
    // r13 (guide §4 codegen rule): project the 12 sign-bands ONCE, then
    // build the exploded struct array from column REFERENCES. The previous
    // form inlined signBand(v, ·) — a 6-`when` chain — 48× inside the
    // Generate (each band's struct recomputed 4 overlapping bands), which
    // (a) evaluated every sign-band 4× per vector and (b) grew the
    // generated generate_doConsume past janino's 64 KB method limit, so
    // the stage fell back to interpreted execution on EVERY run (ERROR
    // CodeGenerator in the bench log). Same band values → same buckets →
    // hash-identical output.
    val sigs = e.select(col("vec_id") +: (0 until EmbBands).map(b =>
        VectorOps.signBand(col("v"), b, EmbBandBits).as(s"sb$b")): _*)
    val bandsAll = sigs.select(col("vec_id"), explode(array(
        (0 until EmbBands).map(b => struct(
          lit(b).as("band_idx"),
          col(s"sb$b").as("band_val"),
          col(s"sb${(b + 1) % EmbBands}").as("x1"),
          col(s"sb${(b + 2) % EmbBands}").as("x2"),
          col(s"sb${(b + 3) % EmbBands}").as("x3"))): _*
      )).as("band"))
      .crossJoin(broadcast(lvlRel))
      .select(col("vec_id"), col("band.band_idx").as("band_idx"),
        col("band.band_val").as("band_val"),
        when(col("lvl") >= 2, col("band.x1")).otherwise(lit(-1L)).as("ext1"),
        when(col("lvl") >= 3, col("band.x2")).otherwise(lit(-1L)).as("ext2"),
        when(col("lvl") >= 4, col("band.x3")).otherwise(lit(-1L)).as("ext3"))
    // r13 (the rec-family grouped layout transposed to LSH): buckets are
    // GROUPED once — (band key, sorted member array) — so candidate pairs
    // come from the in-row C(n,2) generator (`Recommend.arrayPairs`, the
    // same multiset the old band self-join emitted before its distinct)
    // and the bucket-size cap, the hot-key guard (r11 verdict weak item
    // #2's fourth site: a bucket of size h costs h² pairs and an over-cap
    // bucket is by definition non-discriminative), becomes a plain
    // `size(vs) <= cap` filter — the former agg + broadcast-anti-join
    // machinery (and before that, two SortMergeJoins) dissolves. One
    // groupBy exchange replaces the self-join's two shuffled sides; only
    // the capped twin applies it, so the uncapped oracle is untouched.
    val key = Seq("band_idx", "band_val", "ext1", "ext2", "ext3")
    val buckets = bandsAll.groupBy(key.map(col): _*)
      .agg(sort_array(collect_list(col("vec_id"))).as("vs"))
    val kept =
      if (occupancyCap) {
        // 1-row broadcast occupancy-derived cap (A4 pattern, exact DIV):
        // 1.3× the mean occupancy of the level's bucket space —
        // 13·n DIV (10·32^lvl)
        val capRel = Tables.embeddings(spark, dir)
          .agg((count(lit(1)) * 13).as("c13"))
          .crossJoin(broadcast(lvlRel))
          .select(col("c13"), when(col("lvl") === 1, lit(320L))
            .when(col("lvl") === 2, lit(10240L))
            .when(col("lvl") === 3, lit(327680L))
            .otherwise(lit(10485760L)).as("den"))
          .select(expr("c13 DIV den").as("bcap"))
        buckets.crossJoin(broadcast(capRel))
          .filter(size(col("vs")).cast("long") <= col("bcap"))
      } else buckets
    val cand = Recommend.arrayPairs(kept.select(col("vs")), "vs",
        "vec_a", "vec_b")
      .distinct()
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        VectorOps.cosine(VectorOps.dot(col("va"), col("vb")), col("na"), col("nb")).as("cos"))
      .filter(col("cos") >= 0.45)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  private[graft] val EmbBands = 12
  private[graft] val EmbBandBits = 5
  /** Band-width level thresholds. Level 1 keeps every harness SF on the
    * original 5-bit key (hash stability); above that, each level's top
    * holds mean occupancy ≤ 64 — the knee where the cosine-verify join
    * (two 64-double arrays per candidate row, ~1 KB) stays disk-sane:
    * candidates/vector ≈ occupancy·bands/2, so occupancy 64 ⇒ ~384·n
    * verify rows (linear), while the r13 sf10 probe measured occupancy
    * ~195 filling 75 GB of shuffle spill. */
  private[graft] val EmbLvl1Max = 6400L     // 5-bit key,  occ ≤ 200 (harness)
  private[graft] val EmbLvl2Max = 65536L    // 10-bit key, occ ≤ 64
  private[graft] val EmbLvl3Max = 2097152L  // 15-bit key, occ ≤ 64
  /** The level rule evaluated imperatively — what specs assert. */
  private[graft] def embBandLevel(nVec: Long): Int =
    if (nVec <= EmbLvl1Max) 1 else if (nVec <= EmbLvl2Max) 2
    else if (nVec <= EmbLvl3Max) 3 else 4
  /** The occupancy sizing rule of the capped twin, as a plain function
    * for specs: cap = 1.3× mean occupancy of the level's bucket space
    * = 13·n DIV (10·32^lvl). */
  private[graft] def embOccupancyCap(nVec: Long): Long =
    nVec * 13 / (10L * (1L << (5 * embBandLevel(nVec))))

  /** Brute-force recall baseline for `embeddingLsh`: ALL pairs ≥ 0.45
    * cosine via an O(n²) theta join. Deliberately NOT a catalog entry —
    * it dies at scale by construction — it exists as the exact oracle the
    * SimilaritySpec recall gate measures the banded LSH path against. */
  def embeddingPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
      .cache()
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
    pairs.select(
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        VectorOps.cosine(VectorOps.dot(col("a.v"), col("b.v")), col("a.nrm"), col("b.nrm")).as("cos"))
      .filter(col("cos") >= 0.45)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  private val MaxCcRounds = 25

  /** Distributed connected components by LARGE-STAR / SMALL-STAR
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — converges in O(log² n) rounds on ANY topology
    * (a handful in practice), vs the O(component diameter) of plain
    * min-label propagation. The distinction is load-bearing at 100 TB:
    * a pathological near-dup CHAIN of d docs (serial re-edits, boilerplate
    * drift) needs d min-label rounds but only ~log d contraction rounds,
    * so no fixed round budget is topology-fragile here.
    *
    * Each round is two bounded equi-join + hash-agg passes over the
    * current edge set:
    *  - large-star: every node u links its LARGER neighbors to
    *    m(u) = min({u} ∪ N(u)) — halves long path distances;
    *  - small-star: with edges oriented (larger → smaller), every node
    *    links its smaller neighbors AND itself to its min — flattens
    *    partial stars.
    * The only fixed points are stars centered at component minima, so the
    * "edge set unchanged" test certifies the labels, and the driver sees
    * only that flag plus a round counter (as an iterative fit must —
    * cf. KMeans); no row data crosses the driver. Per-round
    * localCheckpoint(true) truncates lineage below the loop — mandatory
    * for ANY iterative Spark job (unbounded plan depth OOMs the planner
    * long before 100 TB); in cluster production this is checkpoint() to
    * reliable storage. Returns (labels(doc_id, cluster_id), rounds);
    * cluster_id = component-minimum doc_id. */
  private[graft] def ccContract(pairs: DataFrame,
                                maxRounds: Int = MaxCcRounds): (DataFrame, Int) = {
    var edges = pairs
      .select(col("doc_a").cast("long").as("u"), col("doc_b").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val und = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = und.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = und.join(lsMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      val oriented = ls.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val ssMin = oriented.groupBy("u").agg(min(col("v")).as("m"))
      val next = oriented.join(ssMin, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(ssMin.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(true)
      // both sides are distinct sets, so equal counts + empty one-sided
      // difference ⇔ set equality — an EXACT fixed-point test (a checksum
      // compare could collide into a false "converged" with wrong labels)
      converged = next.count() == edges.count() && next.except(edges).isEmpty
      edges = next
      rounds += 1
    }
    // wrong-but-plausible clusters are worse than an error; with the log
    // bound this fires only on a genuine bug, not on topology
    require(converged,
      s"connected components did not converge in $maxRounds contraction rounds")
    val labels = edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .unionByName(
        edges.select(col("v").as("doc_id"), col("v").as("cluster_id")).distinct())
    (labels, rounds)
  }

  /** Near-dup CLUSTERS from verified pairs — the step real dedup pipelines
    * run after pair generation: pairs only say "a~b"; keeping one doc per
    * GROUP needs the transitive closure (a~b, b~c ⇒ {a,b,c} is one
    * cluster, survivor = min doc_id). Computed by [[ccContract]].
    *
    * Oracle: DuckDB WITH RECURSIVE reachability over the same verified
    * pairs — a second, independent formulation of the transitive closure,
    * valid for any CC algorithm. */
  /** The iterative fit runs EAGERLY at construction (like a model.fit), so
    * the result is memoized per (session, dir): catalog-wide plan sweeps
    * construct every entry repeatedly and must not re-run the loop. The
    * memo holds the converged LINEAGE (checkpoint-rooted, a fixed number
    * of join/agg rounds), so it stays valid even after a clearCache() —
    * recomputation replays the rounds without the driver loop. */
  private val ccMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    ccMemo.getOrElseUpdate((spark, dir), {
      val pairs = minhashLsh(spark, dir).select(col("doc_a"), col("doc_b"))
      val (labels, _) = ccContract(pairs)
      val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_docs"))
      labels.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("n_docs"))
        .orderBy(col("doc_id"))
    })

  /** INCREMENTAL connected components — the daily-batch shape: when a new
    * slice of near-dup pairs lands, a 100 TB pipeline cannot re-cluster
    * the full history; it contracts (yesterday's labels as STAR edges) ∪
    * (today's pairs) — a relation of \|docs\| + \|new pairs\| rows, not
    * \|all pairs\|. Star edges are already depth-1, so prior structure
    * costs ~1 contraction round; only the new pairs drive real work.
    * The label algebra makes this EXACT, not approximate: components of
    * (stars ∪ new) equal components of (old ∪ new), and min-labels agree
    * because each star keeps its component's minimum as the center — so
    * the entry is gated by the SAME topology-independent full-closure
    * oracle as dedup_cc_clusters, which is precisely the "incremental ≡
    * full recompute" claim. Batch split is deterministic (pair-hash 1-in-5
    * "today"). Memoized like dedupClusters (eager iterative fit). */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame =
    ccIncMemo.getOrElseUpdate((spark, dir), {
      val pairs = minhashLsh(spark, dir).select(col("doc_a"), col("doc_b"))
      val isNew = pmod(xxhash64(col("doc_a"), col("doc_b")), lit(5)) === 0
      val (oldLabels, _) = ccContract(pairs.filter(!isNew))
      val stars = oldLabels
        .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
      val (labels, _) = ccContract(stars.unionByName(pairs.filter(isNew)))
      val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_docs"))
      labels.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("n_docs"))
        .orderBy(col("doc_id"))
    })

  private val ccIncMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** The dedup pipeline's ENDING: the survivor report a corpus job
    * actually emits. The contraction converges to stars centered at the
    * minimum doc_id per component, so the cluster label IS the survivor; per
    * cluster the report carries the survivor, the sorted member roster,
    * and how many near-dup docs get dropped. Pure aggregation over the
    * memoized cluster labels — no new iteration.
    *
    * MEMORY CONTRACT: the members roster is a collect_list, so per-group
    * state is O(cluster size) on one executor. Near-dup clusters are
    * small by construction (Jaccard ≥ 0.7 verified pairs), but a
    * degenerate corpus (one boilerplate page mirrored millions of times)
    * makes a cluster data-proportional — production would cap the roster
    * (slice after sort, or TopKKeys) and keep only n_members exact. */
  def dedupSurvivors(spark: SparkSession, dir: String): DataFrame =
    dedupClusters(spark, dir)
      .groupBy(col("cluster_id").as("survivor_doc"))
      .agg(
        count(lit(1)).as("n_members"),
        (count(lit(1)) - 1).as("n_removed"),
        concat_ws(",", sort_array(collect_list(col("doc_id")))).as("members"))
      .orderBy(col("survivor_doc"))

  /** Quality-ranked survivor selection — the policy layer real corpus
    * dedup runs INSTEAD of min-id: within each near-dup cluster keep the
    * best document (here: longest by n_chars, doc_id as the total-order
    * tiebreak), drop the rest. Min-id survivors (dedupSurvivors) are the
    * degenerate case; content-aware policies (longest, highest quality
    * score, preferred source) are what production pipelines actually
    * ship, and the argmax must be DETERMINISTIC under ties or two runs
    * of the same pipeline keep different documents. One equi-join of the
    * memoized cluster labels against the documents table (both sides
    * partitioned on doc_id) and one per-cluster window — clusters are
    * small by construction, so the window partitions are tiny. */
  def bestSurvivor(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    dedupClusters(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")), "doc_id")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("survivor_doc"),
        col("n_chars").as("survivor_chars"), col("n_docs").as("n_members"))
      .orderBy(col("cluster_id"))
  }

  /** Blocked fuzzy-name matching — entity resolution's other half next to
    * the token/shingle dedups: catalog strings that differ by a typo-scale
    * edit ("hot bolt" / "hot belt") are exact-dedup-invisible and
    * shingle-weak (short strings), so the standard tool is edit distance
    * under a BLOCKING key. Resolution runs on the DISTINCT-name relation
    * (≪ row count), blocks on the first token (classic blocking — work is
    * Σ block², never |names|²), and verifies candidates with
    * `levenshtein ≤ 3` — identical unit-cost edit distance in both
    * engines, so the whole match set sits under the hash gate. */
  def fuzzyNames(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(spark, dir)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
      .withColumn("blk", split(col("p_name"), " ").getItem(0))
      .cache() // real 2× reuse: both sides of the blocked self-join
    names.as("a").join(names.as("b"),
        col("a.blk") === col("b.blk") && col("a.p_name") < col("b.p_name"))
      .withColumn("dist", levenshtein(col("a.p_name"), col("b.p_name")))
      .filter(col("dist") <= 3)
      .select(
        col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
        col("dist").cast("long").as("dist"),
        (col("a.n_parts") + col("b.n_parts")).as("n_parts_affected"))
      .orderBy(col("name_a"), col("name_b"))
  }

  /** SPAN-level duplication profile — the "Deduplicating Training Data
    * Makes Language Models Better" observation that document-level dedup
    * misses verbatim SPANS repeated across otherwise-distinct documents
    * (boilerplate, licenses, syndicated paragraphs), which LLMs memorize.
    * Unit = 8-token window (position-sliced, NOT distinct: a span
    * repeated inside one doc still counts once per occurrence toward
    * that doc's span total). Each span row carries only a 60-bit digest
    * (15 md5 hex chars, kept as the hex substring — a conv() to BIGINT
    * halves the bytes but costs a per-window base-conversion that
    * measured 5-10× the whole pipeline's fresh-run time; 15 bytes vs 8
    * on the shuffle wire does not) — never span text. A span is "shared"
    * iff its digest occurs in ≥2 DISTINCT docs;
    * the per-digest doc-count agg collapses map-side, and the
    * doc-level profile (total spans, shared spans, shared fraction in
    * exact integral micros — div truncation == floor, both operands
    * non-negative) is a second hash-agg joined back on the digest. Only
    * docs with ≥1 shared span are emitted: output is bounded by the
    * contaminated set, the thing a cleanup pass actually consumes. */
  def spanNgrams(spark: SparkSession, dir: String): DataFrame = {
    val N = 8
    // ONE linear pipeline, no cache, no joins: the span explosion (split +
    // 8-token windows + md5 per window over every document) runs exactly
    // once, compacts immediately to (doc_id, h, cnt) via a hash-agg whose
    // map-side combine collapses within-partition duplicates, and the
    // shared-digest test rides a COUNT window partitioned by digest —
    // (doc_id, h) is unique post-compaction, so the window's plain count
    // IS the distinct-doc count, no countDistinct expansion. The per-doc
    // profile is then a second hash-agg conditioning on that count.
    // 3 shuffles of the compacted relation (by (doc,h), by h, by doc) and
    // nothing else — the earlier formulation's cached 3-consumer fan-out
    // (separate shared/totals aggs + semi-join + equi-join) did the same
    // logical work in 5 wide stages plus an InMemoryRelation build.
    //
    // The generator's child is the INLINE transform expression, with
    // short docs dropped by an explicit `size(ws) >= N` filter first
    // (they contribute zero spans either way, so semantics are
    // unchanged). Shape matters enormously here: exploding a
    // pre-projected alias (`explode(col("hs"))`) lets
    // InferFiltersFromGenerate add `size(hs) > 0` and push it through
    // the projections INTO the scan filter — where the substituted
    // filter re-runs the ENTIRE window+md5 computation on every row
    // before the projection runs it again. Measured 8× the whole
    // explosion's cost at sf0.1 (3.0 s vs 0.38 s); with the expensive
    // expression sitting directly under the Generate, the optimizer
    // skips that inference and the digests are computed exactly once.
    val byDigest = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= N)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("ws")) - (N - 1)),
          i => substring(md5(array_join(slice(col("ws"), i, lit(N)), " ")), 1, 15))).as("h"))
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("cnt"))
      .withColumn("nd", count(lit(1)).over(byDigest))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_spans"),
        sum(when(col("nd") >= 2, col("cnt")).otherwise(lit(0L))).as("n_shared_spans"))
      .filter(col("n_shared_spans") >= 1) // output bounded by the contaminated set
      .select(col("doc_id"), col("n_spans"), col("n_shared_spans"),
        expr("n_shared_spans * 1000000L div n_spans").as("shared_micro"))
      .orderBy(col("doc_id"))
  }

  /** SPAN REMOVAL — the cleanup half of Lee et al.'s span dedup, which
    * `spanNgrams` only profiles: delete from every document the token
    * positions covered by any 8-token span that also appears (verbatim)
    * in another document, and emit the cleaned text's fingerprint. This
    * is the operation a training-data pipeline actually runs — the
    * profile says how contaminated a doc is; this produces the
    * decontaminated doc.
    *
    * Shape, all relational: windows (position, digest) per doc →
    * cross-doc shared digests (distinct-doc count ≥ 2) → covered
    * positions = union of shared windows' [i, i+7] ranges (explode +
    * distinct — overlap collapses here) → per-position tokens ANTI JOIN
    * covered → rebuild text with an order-pinned fold
    * (array_sort over (pos, tok) structs; collect_list order is
    * partition-dependent, the sort restores determinism). Every stage is
    * a hash-agg or equi-join keyed by doc_id or digest — work is bounded
    * by corpus token count, never pairs of docs; the per-doc agg buffer
    * holds one doc's kept tokens, the same bound as the source text
    * itself. Output is (counts, md5 of cleaned text), not the text —
    * wire-narrow, and exactly hash-comparable against the oracle's
    * string_agg reconstruction.
    *
    * CACHING CONTRACT: the returned (lazy) frame reads two persisted
    * relations (docs, windows). Spark's CacheManager keys cache entries
    * by canonicalized plan, so repeat calls on the same `dir` REUSE the
    * same InMemoryRelations rather than stacking new ones — growth is
    * bounded by distinct source dirs, not invocations. The entries are
    * still held until released: long-lived sessions that are done with a
    * dir should call [[releaseSpanCaches]] (or
    * `spark.catalog.clearCache()`, as Probe does between measurements)
    * after the result is consumed. */
  private val SpanN = 8

  /** The two relations `spanRemoval` persists, built identically on every
    * call so CacheManager's canonicalized-plan matching both dedups the
    * cache entries across calls and lets [[releaseSpanCaches]] unpersist
    * them without holding references. */
  private def spanRemovalCached(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val N = SpanN
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    // windows cached: BOTH the shared-digest agg and the covered-position
    // expand read this relation — without the persist the split+window+md5
    // explosion (the pipeline's most expensive projection) would run
    // twice, once per consumer (PlanSpec pins the single-computation
    // invariant by counting md5 sites in the plan)
    val windows = docs
      .filter(size(col("ws")) >= N)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("ws")) - (N - 1)),
          i => struct(i.as("i"),
            md5(array_join(slice(col("ws"), i, lit(N)), " ")).as("h")))).as("w"))
      .select(col("doc_id"), col("w.i").as("i"), col("w.h").as("h"))
    (docs, windows)
  }

  /** Unpersist the relations [[spanRemoval]] cached for `dir` (plan-matched;
    * safe to call whether or not they are currently cached). */
  def releaseSpanCaches(spark: SparkSession, dir: String): Unit = {
    val (docs, windows) = spanRemovalCached(spark, dir)
    windows.unpersist()
    docs.unpersist()
  }

  def spanRemoval(spark: SparkSession, dir: String): DataFrame = {
    val N = SpanN
    val (docsPlan, windowsPlan) = spanRemovalCached(spark, dir)
    val docs = docsPlan.cache() // three consumers: windows, token explode, final join
    val windows = windowsPlan.cache()
    val shared = windows.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h"))
    val covered = windows.join(shared, Seq("h"), "left_semi")
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + (N - 1))).as("pos"))
      .distinct()
    val tokens = docs
      .select(col("doc_id"), posexplode(col("ws")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("tok"))
    val cleaned = tokens.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok")), " ").as("clean_text"))
    docs.select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
      .join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        md5(coalesce(col("clean_text"), lit(""))).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_span_ngrams"     -> (spanNgrams _),
    "dedup_span_removal"    -> (spanRemoval _),
    "dedup_fuzzy_names"     -> (fuzzyNames _),
    "dedup_cc_survivors"    -> (dedupSurvivors _),
    "dedup_best_survivor"   -> (bestSurvivor _),
    "dedup_cc_clusters"     -> (dedupClusters _),
    "dedup_cc_incremental"  -> (dedupIncremental _),
    "dedup_minhash_lsh"     -> (minhashLsh _),
    "dedup_admission_gate"  -> (admissionGate _),
    "dedup_ngram_jaccard"   -> (ngramJaccard _),
    "dedup_lsh_curve"       -> (lshCurve _),
    "dedup_ngram_prefix"    -> (ngramJaccardPrefix _),
    "dedup_containment"     -> (containmentPairsPrefix _),
    "dedup_simhash"         -> (simhashClusters _),
    "dedup_simhash_hamming" -> (simhashHamming _),
    "dedup_embedding_lsh"   -> (embeddingLsh _),
    "dedup_embedding_lsh_capped" -> (embeddingLshCapped _),
    "dedup_roi_curve"       -> (roiCurve _)
  )

  private val sigSelect = (0 until NumHashes)
    .map(i => s"min(substr(md5(g), ${4 * i + 1}, 4)) AS s$i").mkString(",\n        |    ")

  private val bandUnion = (0 until NumHashes / 2)
    .map(b => s"SELECT doc_id, $b AS band_idx, s${2 * b} || s${2 * b + 1} AS band_val FROM sig")
    .mkString("\n        |  UNION ALL ")

  private def embBandVal(b: Int): String = (0 until EmbBandBits)
    .map(i => s"CASE WHEN v[${b * EmbBandBits + i + 1}] >= 0.0 THEN ${1L << i} ELSE 0 END")
    .mkString("CAST(", " + ", " AS BIGINT)")

  private val embBandUnion = (0 until EmbBands)
    .map(b => s"SELECT vec_id, $b AS band_idx, ${embBandVal(b)} AS band_val, " +
      s"${embBandVal((b + 1) % EmbBands)} AS x1, " +
      s"${embBandVal((b + 2) % EmbBands)} AS x2, " +
      s"${embBandVal((b + 3) % EmbBands)} AS x3 FROM n")
    .mkString("\n        |  UNION ALL ")

  /** The band-width level CTE + ext-key projection shared by both
    * embedding-LSH oracles — mirrors the in-plan sizing rule (level 1 at
    * every harness SF, so those hashes are unchanged from the 5-bit
    * original). */
  private val embLvlCte =
    s"""lvl AS (
        |  SELECT CASE WHEN COUNT(*) <= $EmbLvl1Max THEN 1
        |    WHEN COUNT(*) <= $EmbLvl2Max THEN 2
        |    WHEN COUNT(*) <= $EmbLvl3Max THEN 3 ELSE 4 END AS lvl
        |  FROM embeddings),
        |bands AS (
        |  SELECT vec_id, band_idx, band_val,
        |    CASE WHEN lvl >= 2 THEN x1 ELSE -1 END AS ext1,
        |    CASE WHEN lvl >= 3 THEN x2 ELSE -1 END AS ext2,
        |    CASE WHEN lvl >= 4 THEN x3 ELSE -1 END AS ext3
        |  FROM bandsraw CROSS JOIN lvl)"""

  private val simhashBitSums = (0 until 16)
    .map(j => s"SUM(CASE WHEN (h >> $j) % 2 = 1 THEN 1 ELSE -1 END) AS b$j")
    .mkString(",\n      |    ")

  private val simhashExpr = (0 until 16)
    .map(j => s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END")
    .mkString(" + ")

  /** The minhash pair-generation CTE chain (through verified-jaccard `j`),
    * shared by the pair entry's oracle and the clusters entry's recursive
    * closure on top of it. */
  private lazy val minhashPairCtes: String =
    s"""sh AS ($shingledSql),
      |ex AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
      |sig AS (SELECT doc_id,
      |    $sigSelect
      |  FROM ex GROUP BY doc_id),
      |bands AS (
      |  $bandUnion),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |   AND a.doc_id < b.doc_id),
      |j AS (
      |  SELECT doc_a, doc_b,
      |    len(list_intersect(sa.shingles, sb.shingles))::BIGINT AS n_inter,
      |    len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
      |      / (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
      |  FROM cand
      |  JOIN sh sa ON sa.doc_id = doc_a
      |  JOIN sh sb ON sb.doc_id = doc_b)""".stripMargin

  private lazy val ccClosureSql: String =
    s"""WITH RECURSIVE $minhashPairCtes,
      |pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.7),
      |edges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION ALL
      |  SELECT doc_b, doc_a FROM pairs),
      |nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
      |reach(doc_id, label) AS (
      |  SELECT doc_id, doc_id FROM nodes
      |  UNION
      |  SELECT e.b, r.label FROM reach r JOIN edges e ON r.doc_id = e.a),
      |lab AS (SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id),
      |cs AS (SELECT cluster_id, COUNT(*) AS n_docs FROM lab GROUP BY cluster_id)
      |SELECT l.doc_id, l.cluster_id, cs.n_docs
      |FROM lab l JOIN cs USING (cluster_id)
      |ORDER BY l.doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "dedup_span_removal" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |w AS (
        |  SELECT doc_id, unnest(CASE WHEN len(ws) >= 8
        |    THEN list_transform(generate_series(1, len(ws) - 7),
        |      i -> struct_pack(i := i, h := md5(array_to_string(list_slice(ws, i, i + 7), ' '))))
        |    ELSE [] END) AS s
        |  FROM t),
        |wx AS (SELECT doc_id, s.i AS i, s.h AS h FROM w),
        |shared AS (
        |  SELECT h FROM (SELECT DISTINCT doc_id, h FROM wx) GROUP BY h
        |  HAVING COUNT(*) >= 2),
        |covered AS (
        |  SELECT DISTINCT doc_id, pos FROM (
        |    SELECT doc_id, unnest(generate_series(i, i + 7)) AS pos
        |    FROM wx WHERE h IN (SELECT h FROM shared))),
        |toks AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)),
        |    i -> struct_pack(pos := i, tok := ws[i]))) AS s
        |  FROM t),
        |tok2 AS (SELECT doc_id, s.pos AS pos, s.tok AS tok FROM toks),
        |kept AS (
        |  SELECT k.doc_id, k.pos, k.tok FROM tok2 k
        |  LEFT JOIN covered c ON k.doc_id = c.doc_id AND k.pos = c.pos
        |  WHERE c.doc_id IS NULL),
        |cleaned AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
        |  CAST(len(t.ws) - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed,
        |  md5(COALESCE(c.clean_text, '')) AS clean_md5
        |FROM t LEFT JOIN cleaned c USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    "dedup_span_ngrams" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |spans AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(ws) >= 8
        |      THEN list_transform(generate_series(1, len(ws) - 7),
        |        i -> substr(md5(array_to_string(list_slice(ws, i, i + 7), ' ')), 1, 15))
        |      ELSE [] END) AS h
        |  FROM w),
        |shared AS (
        |  SELECT h FROM spans GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
        |tot AS (SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY doc_id),
        |shr AS (
        |  SELECT doc_id, COUNT(*) AS n_shared_spans FROM spans
        |  WHERE h IN (SELECT h FROM shared) GROUP BY doc_id)
        |SELECT t.doc_id, t.n_spans, s.n_shared_spans,
        |  s.n_shared_spans * 1000000 // t.n_spans AS shared_micro
        |FROM tot t JOIN shr s USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    "dedup_fuzzy_names" ->
      """WITH names AS (
        |  SELECT p_name, COUNT(*) AS n_parts FROM part GROUP BY p_name),
        |b AS (
        |  SELECT p_name, n_parts,
        |    string_split(p_name, ' ')[1] AS blk
        |  FROM names)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
        |  a.n_parts + b.n_parts AS n_parts_affected
        |FROM b a JOIN b b ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY name_a, name_b""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH $minhashPairCtes
        |SELECT doc_a, doc_b, n_inter, jaccard FROM j
        |WHERE jaccard >= 0.7
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_admission_gate" ->
      s"""WITH sh AS ($shingledSql),
        |ex AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
        |sig AS (SELECT doc_id,
        |    $sigSelect
        |  FROM ex GROUP BY doc_id),
        |bands AS (
        |  $bandUnion),
        |cand AS (
        |  SELECT DISTINCT b.doc_id AS doc_id, a.doc_id AS base_id
        |  FROM bands a JOIN bands b
        |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
        |  WHERE a.doc_id % 10 <> 7 AND b.doc_id % 10 = 7),
        |v AS (
        |  SELECT c.doc_id, c.base_id,
        |    len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
        |      / (len(sa.shingles) + len(sb.shingles)
        |         - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.base_id
        |  JOIN sh sb ON sb.doc_id = c.doc_id),
        |best AS (
        |  SELECT doc_id, base_id, jaccard,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY jaccard DESC, base_id) AS rn
        |  FROM v WHERE jaccard >= 0.7)
        |SELECT d.doc_id,
        |  CASE WHEN b.base_id IS NULL THEN 'admit' ELSE 'reject' END AS verdict,
        |  b.base_id AS dup_of, b.jaccard AS jaccard
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) d
        |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "dedup_cc_survivors" ->
      s"""WITH RECURSIVE $minhashPairCtes,
        |pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.7),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL
        |  SELECT doc_b, doc_a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
        |reach(doc_id, label) AS (
        |  SELECT doc_id, doc_id FROM nodes
        |  UNION
        |  SELECT e.b, r.label FROM reach r JOIN edges e ON r.doc_id = e.a),
        |lab AS (SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id)
        |SELECT cluster_id AS survivor_doc,
        |  COUNT(*) AS n_members,
        |  COUNT(*) - 1 AS n_removed,
        |  string_agg(doc_id, ',' ORDER BY doc_id) AS members
        |FROM lab GROUP BY cluster_id
        |ORDER BY survivor_doc""".stripMargin,
    "dedup_cc_clusters" -> ccClosureSql,
    "dedup_best_survivor" ->
      s"""WITH RECURSIVE $minhashPairCtes,
        |pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.7),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL
        |  SELECT doc_b, doc_a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
        |reach(doc_id, label) AS (
        |  SELECT doc_id, doc_id FROM nodes
        |  UNION
        |  SELECT e.b, r.label FROM reach r JOIN edges e ON r.doc_id = e.a),
        |lab AS (SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id),
        |cs AS (SELECT cluster_id, COUNT(*) AS n_members FROM lab GROUP BY cluster_id),
        |q AS (
        |  SELECT l.cluster_id, l.doc_id, d.n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY l.cluster_id
        |                       ORDER BY d.n_chars DESC, l.doc_id) AS rk
        |  FROM lab l JOIN documents d USING (doc_id))
        |SELECT q.cluster_id, q.doc_id AS survivor_doc,
        |  q.n_chars AS survivor_chars, cs.n_members
        |FROM q JOIN cs USING (cluster_id)
        |WHERE q.rk = 1
        |ORDER BY q.cluster_id""".stripMargin,
    // the SAME full-closure oracle: "incremental maintenance ≡ full
    // recompute" IS the correctness claim being gated
    "dedup_cc_incremental" -> ccClosureSql,
    "dedup_ngram_prefix" ->
      // semantic twin: the UNFILTERED jaccard SQL — prefix filtering must
      // not change the result set, only the candidate count
      s"""WITH sh AS ($shingledSql),
        |ex_all AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
        |rare AS (SELECT g FROM ex_all GROUP BY g HAVING COUNT(*) <= $MaxShingleDf),
        |ex AS (SELECT doc_id, g FROM ex_all WHERE g IN (SELECT g FROM rare)),
        |sizes AS (SELECT doc_id, len(shingles)::BIGINT AS n FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_inter,
        |  n_inter::DOUBLE / (na.n + nb.n - n_inter) AS jaccard
        |FROM inter
        |JOIN sizes na ON na.doc_id = doc_a
        |JOIN sizes nb ON nb.doc_id = doc_b
        |WHERE n_inter::DOUBLE / (na.n + nb.n - n_inter) >= 0.7
        |ORDER BY doc_a, doc_b""".stripMargin,
        "dedup_lsh_curve" -> lshCurveOracle,
        "dedup_roi_curve" -> {
      val thrRows = RoiThresholds.map(t => s"(${t}::DOUBLE)").mkString(", ")
      s"""WITH sh AS ($shingledSql),
        |ex_all AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
        |rare AS (SELECT g FROM ex_all GROUP BY g HAVING COUNT(*) <= $MaxShingleDf),
        |ex AS (SELECT doc_id, g FROM ex_all WHERE g IN (SELECT g FROM rare)),
        |sizes AS (SELECT doc_id, len(shingles)::BIGINT AS n FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jac AS (
        |  SELECT doc_b, n_inter::DOUBLE / (na.n + nb.n - n_inter) AS jaccard
        |  FROM inter
        |  JOIN sizes na ON na.doc_id = doc_a
        |  JOIN sizes nb ON nb.doc_id = doc_b),
        |thr(thr) AS (VALUES $thrRows),
        |cand AS (
        |  SELECT t.thr, j.doc_b FROM jac j CROSS JOIN thr t
        |  WHERE j.jaccard >= t.thr),
        |pair_agg AS (SELECT thr, COUNT(*) AS n_pairs FROM cand GROUP BY 1),
        |drop_agg AS (
        |  SELECT thr, COUNT(*) AS n_docs_dropped,
        |    CAST(SUM(d.n_chars) AS BIGINT) AS chars_dropped
        |  FROM (SELECT DISTINCT thr, doc_b FROM cand) x
        |  JOIN documents d ON d.doc_id = x.doc_b
        |  GROUP BY 1)
        |SELECT t.thr, COALESCE(p.n_pairs, 0) AS n_pairs,
        |  COALESCE(a.n_docs_dropped, 0) AS n_docs_dropped,
        |  COALESCE(a.chars_dropped, 0) AS chars_dropped
        |FROM thr t LEFT JOIN pair_agg p USING (thr)
        |LEFT JOIN drop_agg a USING (thr)
        |ORDER BY thr""".stripMargin
    },
        "dedup_ngram_jaccard" ->
      s"""WITH sh AS ($shingledSql),
        |ex_all AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
        |rare AS (SELECT g FROM ex_all GROUP BY g HAVING COUNT(*) <= $MaxShingleDf),
        |ex AS (SELECT doc_id, g FROM ex_all WHERE g IN (SELECT g FROM rare)),
        |sizes AS (SELECT doc_id, len(shingles)::BIGINT AS n FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_inter,
        |  n_inter::DOUBLE / (na.n + nb.n - n_inter) AS jaccard
        |FROM inter
        |JOIN sizes na ON na.doc_id = doc_a
        |JOIN sizes nb ON nb.doc_id = doc_b
        |WHERE n_inter::DOUBLE / (na.n + nb.n - n_inter) >= 0.7
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_containment" ->
      s"""WITH sh AS ($shingledSql),
        |ex_all AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
        |rare AS (SELECT g FROM ex_all GROUP BY g HAVING COUNT(*) <= $MaxShingleDf),
        |ex AS (SELECT doc_id, g FROM ex_all WHERE g IN (SELECT g FROM rare)),
        |sizes AS (SELECT doc_id, len(shingles)::BIGINT AS n FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, na.n AS na, n_inter,
        |  n_inter::DOUBLE / na.n AS containment
        |FROM inter
        |JOIN sizes na ON na.doc_id = doc_a
        |WHERE na.n >= 5 AND n_inter::DOUBLE / na.n >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_simhash" ->
      s"""WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |hashed AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(0::BIGINT, list_transform(string_split(w, ''), ch -> ascii(ch)::BIGINT)),
        |                (acc, a) -> (acc * 31 + a) % $P) AS h
        |  FROM words WHERE length(w) > 0),
        |sums AS (
        |  SELECT doc_id,
        |    $simhashBitSums
        |  FROM hashed GROUP BY doc_id),
        |sig AS (SELECT doc_id, CAST($simhashExpr AS BIGINT) AS simhash FROM sums)
        |SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM sig GROUP BY simhash HAVING COUNT(*) > 1
        |ORDER BY simhash""".stripMargin,
    "dedup_simhash_hamming" ->
      s"""WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |hashed AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(0::BIGINT, list_transform(string_split(w, ''), ch -> ascii(ch)::BIGINT)),
        |                (acc, a) -> (acc * 31 + a) % $P) AS h
        |  FROM words WHERE length(w) > 0),
        |sums AS (
        |  SELECT doc_id,
        |    $simhashBitSums
        |  FROM hashed GROUP BY doc_id),
        |sig AS (SELECT doc_id, CAST($simhashExpr AS BIGINT) AS simhash FROM sums),
        |blocks AS (
        |  SELECT doc_id, simhash, 0 AS block_idx, (simhash >> 0) % 256 AS block_val FROM sig
        |  UNION ALL
        |  SELECT doc_id, simhash, 1 AS block_idx, (simhash >> 8) % 256 AS block_val FROM sig),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.simhash AS ha, b.simhash AS hb
        |  FROM blocks a JOIN blocks b
        |    ON a.block_idx = b.block_idx AND a.block_val = b.block_val
        |   AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(ha, hb)) <= 1
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_embedding_lsh_capped" ->
      s"""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip(v, v), z -> z[1] * z[2])),
        |                     (x, y) -> x + y)) AS nrm
        |  FROM e),
        |bandsraw AS (
        |  $embBandUnion),
        |$embLvlCte,
        |bcap AS (
        |  SELECT COUNT(*) * 13 //
        |    (CASE WHEN (SELECT lvl FROM lvl) = 1 THEN 320
        |      WHEN (SELECT lvl FROM lvl) = 2 THEN 10240
        |      WHEN (SELECT lvl FROM lvl) = 3 THEN 327680
        |      ELSE 10485760 END) AS bcap
        |  FROM embeddings),
        |okb AS (
        |  SELECT band_idx, band_val, ext1, ext2, ext3 FROM bands
        |  GROUP BY 1, 2, 3, 4, 5 HAVING COUNT(*) <= (SELECT bcap FROM bcap)),
        |bandsc AS (
        |  SELECT b.vec_id, b.band_idx, b.band_val, b.ext1, b.ext2, b.ext3
        |  FROM bands b JOIN okb USING (band_idx, band_val, ext1, ext2, ext3)),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM bandsc a JOIN bandsc b
        |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
        |   AND a.ext1 = b.ext1 AND a.ext2 = b.ext2 AND a.ext3 = b.ext3
        |   AND a.vec_id < b.vec_id),
        |p AS (
        |  SELECT vec_a, vec_b,
        |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip(x.v, y.v), z -> z[1] * z[2])),
        |                (u, w) -> u + w) / (x.nrm * y.nrm) AS cos
        |  FROM cand
        |  JOIN n x ON x.vec_id = vec_a
        |  JOIN n y ON y.vec_id = vec_b)
        |SELECT vec_a, vec_b, cos FROM p
        |WHERE cos >= 0.45
        |ORDER BY vec_a, vec_b""".stripMargin,
    "dedup_embedding_lsh" ->
      s"""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip(v, v), z -> z[1] * z[2])),
        |                     (x, y) -> x + y)) AS nrm
        |  FROM e),
        |bandsraw AS (
        |  $embBandUnion),
        |$embLvlCte,
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM bands a JOIN bands b
        |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
        |   AND a.ext1 = b.ext1 AND a.ext2 = b.ext2 AND a.ext3 = b.ext3
        |   AND a.vec_id < b.vec_id),
        |p AS (
        |  SELECT vec_a, vec_b,
        |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip(x.v, y.v), z -> z[1] * z[2])),
        |                (u, w) -> u + w) / (x.nrm * y.nrm) AS cos
        |  FROM cand
        |  JOIN n x ON x.vec_id = vec_a
        |  JOIN n y ON y.vec_id = vec_b)
        |SELECT vec_a, vec_b, cos FROM p
        |WHERE cos >= 0.45
        |ORDER BY vec_a, vec_b""".stripMargin
  )
}
