package graft

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.SparkSession

/** Synthetic data dirs whose only table is a `lineitem.parquet` of
  * `(l_orderkey, l_partkey)` rows, built so that the association-rule
  * top-20 cut falls inside a run of rules tied on lift and confidence.
  * Each layout is a list of baskets; basket i is order key i + 1. */
object TieBaskets {

  /** Three baskets {20, x}: their x→20 rule has the higher confidence of
    * the two directions, and their lift ranks them first. */
  private val star: Seq[Seq[Long]] = Seq(21L, 22L, 23L).map(x => Seq(20L, x))

  /** Ties decided by antecedent and consequent:
    *  - every pair of parts 1..16 is one basket, so those parts have
    *    equal marginals and each of their rules ties with its reverse;
    *  - one basket holds parts 1..8, which lifts their 28 pairs above the
    *    rest; the cut falls inside their 56 tied rules (a pair top-k that
    *    broke the tie on the pair's larger part first would drop two
    *    pairs the cut needs). It is the one basket above the 2× mean-size
    *    cap (4), so the capped twin drops it and cuts inside the tied
    *    rules of parts 9..16 instead. */
  val Tied: Seq[Seq[Long]] =
    (for (a <- 1L to 16L; b <- (a + 1) to 16L) yield Seq(a, b)) ++ star :+ (1L to 8L)

  /** Ties decided by a pair's better direction: 36 pairs of one lift, each
    * a hub with 12 single-basket leaves, so every pair's better rule is
    * leaf→hub at confidence 1. Hub 100's leaves 101..112 are larger than
    * the hub, hubs 300 and 301 have leaves 200..223 below them; the cut
    * needs all of hub 100's pairs, which a pair top-k ranking every pair
    * by its smaller-part-first rule would put last. */
  val Directed: Seq[Seq[Long]] =
    star ++ (101L to 112L).map(l => Seq(100L, l)) ++
      (200L to 223L).map(l => Seq(l, if (l < 212L) 300L else 301L))

  /** `f` on fresh dirs holding `layouts`; afterwards the dirs and every
    * scratch memo built over them are removed. */
  def withDirs[A](spark: SparkSession, layouts: Seq[Seq[Long]]*)(f: Seq[String] => A): A =
    if (layouts.isEmpty) f(Nil)
    else TempDirs.withDir("tie_baskets") { d =>
      write(spark, d, layouts.head)
      withDirs(spark, layouts.tail: _*)(ds => f(d.toString +: ds))
    }

  /** Writes the baskets into `d` as one parquet file, like the harness
    * tables. */
  private def write(spark: SparkSession, d: Path, baskets: Seq[Seq[Long]]): Unit = {
    import spark.implicits._
    val rows = baskets.zipWithIndex.flatMap { case (ps, o) => ps.map(p => (o + 1L, p)) }
    val out = d.resolve("lineitem_parts").toString
    rows.toDF("l_orderkey", "l_partkey").coalesce(1).write.parquet(out)
    val part = new File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, d.resolve("lineitem.parquet"), StandardCopyOption.ATOMIC_MOVE)
    TempDirs.rm(new File(out))
  }
}
