package graft

import java.time.LocalDateTime

import org.apache.spark.sql.functions._

/** The sf0.001 base tables, collected once per JVM as plain Scala rows,
  * and the relations that several recompute pins derive from them.
  *
  * A recompute pin rebuilds a catalog entry on the driver from these rows
  * with plain Scala collections, outside Catalyst, so a plan bug cannot
  * sit on both sides of its comparison. Collecting each table once keeps
  * that independence cheap. Each derived relation here is defined once;
  * a pin that needs a table in a shape no other pin uses derives it
  * locally. */
object BaseRows {

  final case class Lineitem(orderkey: Long, partkey: Long, suppkey: Long,
      linenumber: Int, quantity: Double, extendedprice: Double,
      discount: Double, returnflag: String, linestatus: String,
      shipdate: LocalDateTime)

  final case class Order(orderkey: Long, custkey: Long, totalprice: Double,
      orderdate: LocalDateTime, orderpriority: String)

  /** `tsUs` is `unix_micros(ts)`. */
  final case class Event(eventId: Long, userId: Long, eventType: String,
      tsUs: Long, value: Double) {
    /** `floor(value * 100)`, the entries' integer cents. */
    def cents: Long = math.floor(value * 100).toLong
    /** The epoch hour, `unix_micros(date_trunc('hour', ts)) DIV 3600000000`. */
    def hour: Long = Math.floorDiv(tsUs, 3600000000L)
  }

  final case class Document(docId: Long, text: String, lang: String,
      source: String, nChars: Long)

  final case class Embedding(vecId: Long, label: Int, vec: Array[Double])

  private def read(table: String) =
    Tables.table(SparkSpec.session, SparkSpec.Sf0001, table)

  lazy val lineitem: Seq[Lineitem] = read("lineitem")
    .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus", "l_shipdate")
    .collect().toSeq
    .map(r => Lineitem(r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
      r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getString(7),
      r.getString(8), r.getAs[LocalDateTime](9)))

  lazy val orders: Seq[Order] = read("orders")
    .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority")
    .collect().toSeq
    .map(r => Order(r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getAs[LocalDateTime](3), r.getString(4)))

  /** Read through [[Tables.events]], whose probe decides the `ts` encoding. */
  lazy val events: Seq[Event] = Tables.events(SparkSpec.session, SparkSpec.Sf0001)
    .select(col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")), col("value"))
    .collect().toSeq
    .map(r => Event(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
      r.getDouble(4)))
    .sortBy(_.eventId)

  lazy val documents: Seq[Document] = read("documents")
    .select("doc_id", "text", "lang", "source", "n_chars")
    .collect().toSeq
    .map(r => Document(r.getLong(0), r.getString(1), r.getString(2),
      r.getString(3), r.getLong(4)))
    .sortBy(_.docId)

  lazy val embeddings: Seq[Embedding] = read("embeddings")
    .select(col("vec_id"), col("label"), col("embedding").cast("array<double>"))
    .collect().toSeq
    .map(r => Embedding(r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    .sortBy(_.vecId)

  lazy val partkeys: Seq[Long] =
    read("part").select("p_partkey").collect().toSeq.map(_.getLong(0))

  lazy val supplierNation: Map[Long, Int] =
    read("supplier").select("s_suppkey", "s_nationkey").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  lazy val nationName: Map[Int, String] =
    read("nation").select("n_nationkey", "n_name").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap

  // ---------------------------------------------------------- derived relations

  /** Order key → customer key. */
  lazy val custOf: Map[Long, Long] = orders.map(o => o.orderkey -> o.custkey).toMap

  /** (customer, part) → purchase count: each line item joined to the
    * customer of its order. The rating relation of the recommenders. */
  lazy val purchases: Map[(Long, Long), Long] =
    lineitem.flatMap(l => custOf.get(l.orderkey).map(c => (c, l.partkey)))
      .groupBy(identity).map { case (k, g) => k -> g.length.toLong }

  /** [[purchases]] as sorted `(customer, part, count)` rows. */
  lazy val ratings: Seq[(Long, Long, Long)] =
    purchases.toSeq.map { case ((c, p), n) => (c, p, n) }.sorted

  /** The distinct (customer, part) incidence, sorted. */
  lazy val purchasePairs: Seq[(Long, Long)] = purchases.keys.toSeq.sorted

  /** Distinct (supplier, part) pairs of lineitem. */
  lazy val supplierParts: Seq[(Long, Long)] =
    lineitem.map(l => (l.suppkey, l.partkey)).distinct

  /** The sparsified co-supply undirected edge list (u < v, distinct,
    * sorted) that the graph community and link-prediction entries share:
    * two suppliers are adjacent when they supply one part in a line of
    * quantity > 49. */
  lazy val coSupplyEdges: Seq[(Long, Long)] =
    lineitem.filter(_.quantity > 49).map(l => (l.partkey, l.suppkey)).distinct
      .groupBy(_._1).values.flatMap { grp =>
        val ss = grp.map(_._2).distinct.sorted
        for (i <- ss.indices; j <- (i + 1) until ss.length) yield (ss(i), ss(j))
      }.toSeq.distinct.sorted

  /** One experiment user: a user with a view, in arm `user_id % 2`, with
    * the purchase cents strictly before and strictly after the first
    * view, and whether a purchase fell in the 24 h after it. */
  final case class ExpUser(userId: Long, arm: Long, preCents: Long,
      postCents: Long, conv24h: Boolean)

  /** The view/purchase experiment users, by user id. */
  lazy val expUsers: Seq[ExpUser] =
    events.filter(e => e.eventType == "view" || e.eventType == "purchase")
      .groupBy(_.userId).toSeq.sortBy(_._1).flatMap { case (uid, rows) =>
        val views = rows.filter(_.eventType == "view")
        if (views.isEmpty) None
        else {
          val v = views.map(_.tsUs).min
          val ps = rows.filter(_.eventType == "purchase")
          Some(ExpUser(uid, uid % 2, ps.filter(_.tsUs < v).map(_.cents).sum,
            ps.filter(_.tsUs > v).map(_.cents).sum,
            ps.exists(p => p.tsUs > v && p.tsUs <= v + 86400000000L)))
        }
      }

  /** Events per epoch hour (hours without events absent). */
  lazy val hourCounts: Map[Long, Long] =
    events.groupBy(_.hour).map { case (h, g) => h -> g.length.toLong }

  /** Events per (event type, epoch hour). */
  lazy val typeHourCounts: Map[(String, Long), Long] =
    events.groupBy(e => (e.eventType, e.hour)).map { case (k, g) => k -> g.length.toLong }

  /** [[hourCounts]] gap-filled from the first to the last hour, missing
    * hours at 0. */
  lazy val hourlySeries: Seq[(Long, Long)] =
    (hourCounts.keys.min to hourCounts.keys.max).map(h => h -> hourCounts.getOrElse(h, 0L))

  /** (doc_id, text) of every document. */
  def docTexts: Seq[(Long, String)] = documents.map(d => (d.docId, d.text))

  /** The regression design of the OLS family per line item: (quantity,
    * discount basis points, price cents), each floored to a long. */
  lazy val olsRows: Seq[(Long, Long, Long)] = lineitem.map(l =>
    (math.floor(l.quantity).toLong, math.floor(l.discount * 100).toLong,
      math.floor(l.extendedprice * 100).toLong))
}
