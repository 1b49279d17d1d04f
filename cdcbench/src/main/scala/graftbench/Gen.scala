package graftbench

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators shared by the workloads. Everything here is a
  * pure function of the seed: the system under test only ever sees the
  * rows, binlog bytes, topic records and documents these produce.
  */
object Gen {

  /** Zipf(s) sampler over ranks 0 until n (rank 0 hottest), by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(rnd: java.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ------------------------------------------------------------ orders table

  /** One row of the MySQL-shaped `shop.orders` table: composite primary
    * key (tenant_id INT, order_id BIGINT) and decimal / varchar /
    * timestamp / text / int payload columns.
    */
  final case class Order(tenant: Int, order: Long, amountCents: Long, status: String,
                         createdMs: Long, note: String, qty: Int) {
    def key: String = s"$tenant:$order"
  }

  val Statuses: Vector[String] = Vector("new", "paid", "packed", "shipped", "delivered", "returned")
  private val Words: Vector[String] = Vector(
    "gift", "wrap", "leave", "at", "door", "call", "before", "delivery", "fragile",
    "express", "please", "ring", "bell", "twice", "side", "entrance", "back", "office",
    "reception", "weekend", "only", "café", "naïve", "\"rush\"", "c:\\temp", "no", "plastic")
  private val BaseMs = 1704067200000L // 2024-01-01T00:00:00Z

  private def note(rnd: java.util.Random): String = {
    val n = 3 + rnd.nextInt(28)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(if (rnd.nextInt(40) == 0) '\n' else ' ')
      sb.append(Words(rnd.nextInt(Words.size)))
      i += 1
    }
    sb.toString
  }

  def newOrder(rnd: java.util.Random, tenant: Int, order: Long): Order =
    Order(tenant, order, rnd.nextInt(50000000).toLong, Statuses(rnd.nextInt(Statuses.size)),
      BaseMs + (rnd.nextLong() & Long.MaxValue) % (90L * 86400000L), note(rnd), 1 + rnd.nextInt(20))

  /** A changed version of `o` (primary key unchanged), as an UPDATE writes. */
  def updated(rnd: java.util.Random, o: Order): Order = rnd.nextInt(3) match {
    case 0 => o.copy(status = Statuses(rnd.nextInt(Statuses.size)))
    case 1 => o.copy(amountCents = rnd.nextInt(50000000).toLong, qty = 1 + rnd.nextInt(20))
    case _ => o.copy(note = note(rnd), status = Statuses(rnd.nextInt(Statuses.size)))
  }

  /** One row change in a transaction. `before` is set for update/delete. */
  final case class Change(op: String, before: Option[Order], after: Option[Order]) {
    def row: Order = after.orElse(before).get
  }

  /** Live table state plus the op-mix / key-skew rules that mutate it.
    * Updates and deletes pick their row by Zipf rank over the initial
    * keys (hot keys churn most); a pick that has been deleted falls back
    * to a uniform live row. Inserts take fresh order ids.
    */
  final class Table(rnd: java.util.Random, initialRows: Int, tenants: Int, zipfS: Double,
                    mix: (Double, Double, Double)) {
    private val live = new java.util.HashMap[String, Order]()
    private val liveKeys = ArrayBuffer.empty[String]
    private val slot = new java.util.HashMap[String, Integer]()
    private var nextOrder = 1000000L
    private def add(o: Order): Unit = {
      live.put(o.key, o); slot.put(o.key, liveKeys.size); liveKeys += o.key
    }
    private def remove(k: String): Unit = {
      val i = slot.remove(k).intValue()
      val lastIdx = liveKeys.size - 1
      if (i != lastIdx) { val last = liveKeys(lastIdx); liveKeys(i) = last; slot.put(last, i) }
      liveKeys.remove(lastIdx)
      live.remove(k)
    }
    private def fresh(): Order = {
      nextOrder += 1 + rnd.nextInt(3)
      newOrder(rnd, 1 + rnd.nextInt(tenants), nextOrder)
    }
    (0 until initialRows).foreach(_ => add(fresh()))
    private val ranked: Vector[String] = {
      val ks = liveKeys.toVector
      val perm = ks.indices.toArray
      var i = perm.length - 1
      while (i > 0) { val j = rnd.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t; i -= 1 }
      perm.toVector.map(ks)
    }
    private val zipf = new Zipf(ranked.size, zipfS)

    def rows: Vector[Order] = liveKeys.iterator.map(live.get).toVector
    def size: Int = liveKeys.size

    private def pickLive(): Order = {
      val k = ranked(zipf.sample(rnd))
      val o = live.get(k)
      if (o != null) o else live.get(liveKeys(rnd.nextInt(liveKeys.size)))
    }

    /** Draw one change by the op mix and apply it to the live state. */
    def next(): Change = {
      val u = rnd.nextDouble()
      if (u < mix._1 || liveKeys.size < 2) { val o = fresh(); add(o); Change("insert", None, Some(o)) }
      else if (u < mix._1 + mix._2) {
        val o = pickLive(); val n = updated(rnd, o); live.put(o.key, n)
        Change("update", Some(o), Some(n))
      } else { val o = pickLive(); remove(o.key); Change("delete", Some(o), None) }
    }
  }

  // ------------------------------------------------------------ corpus

  /** A document with its planted cluster label (-1 = not planted). */
  final case class Doc(id: Long, text: String, cluster: Int)

  /** Corpus with planted near-duplicate clusters. Cluster sizes follow a
    * Zipf law (size of cluster j ~ top / (j+1)^s, at least 2) plus one
    * giant cluster; each member is the cluster's base document with every
    * token independently replaced at `editRate`. The remaining documents
    * are independent draws. Ids are shuffled so a cluster's members are
    * not contiguous.
    */
  def corpus(seed: Long, docs: Int, clusters: Int, topCluster: Int, zipfS: Double,
             giantCluster: Int, editRate: Double, vocab: Int): Vector[Doc] = {
    val rnd = new java.util.Random(seed)
    val words = Vector.tabulate(vocab) { i =>
      val r = new java.util.Random(seed * 31 + i)
      val len = 3 + r.nextInt(7)
      (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val wordZipf = new Zipf(vocab, 1.0)
    def base(): Array[String] = Array.fill(60 + rnd.nextInt(60))(words(wordZipf.sample(rnd)))
    def edit(b: Array[String]): String =
      b.map(w => if (rnd.nextDouble() < editRate) words(rnd.nextInt(vocab)) else w).mkString(" ")
    val sizes = giantCluster +: (0 until clusters).map(j =>
      math.max(2, (topCluster / math.pow(j + 1.0, zipfS)).toInt))
    val texts = ArrayBuffer.empty[(String, Int)]
    sizes.zipWithIndex.foreach { case (n, c) =>
      val b = base()
      texts += ((b.mkString(" "), c))
      (1 until n).foreach(_ => texts += ((edit(b), c)))
    }
    require(texts.size <= docs, s"planted clusters (${texts.size} docs) exceed corpus size $docs")
    while (texts.size < docs) texts += ((base().mkString(" "), -1))
    val ids = (0 until docs).map(_.toLong).toArray
    var i = ids.length - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1 }
    texts.indices.map(k => Doc(ids(k), texts(k)._1, texts(k)._2)).toVector
  }
}
