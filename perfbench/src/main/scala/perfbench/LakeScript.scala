package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** One lineitem-shaped row of a lakehouse batch. `shipDay` counts days
  * from 1970-01-01. */
final case class LineRow(orderKey: Long, partKey: Long, suppKey: Long,
    lineNumber: Int, quantity: Double, extendedPrice: Double,
    discount: Double, tax: Double, returnFlag: String, lineStatus: String,
    shipDay: Int)

/** One operation of the lakehouse workload. Predicates and assignments
  * are SQL text, so the snapshot table and the plain-DataFrame model
  * evaluate the same expression. */
sealed trait LakeOp { def name: String }
object LakeOp {
  final case class Append(rows: Seq[LineRow]) extends LakeOp {
    def name = "append" }
  final case class Merge(rows: Seq[LineRow]) extends LakeOp {
    def name = "merge" }
  final case class Delete(predicate: String) extends LakeOp {
    def name = "delete" }
  final case class DeleteMoR(predicate: String) extends LakeOp {
    def name = "delete_mor" }
  final case class UpdateMoR(predicate: String,
      set: Seq[(String, String)]) extends LakeOp { def name = "update_mor" }
  final case class ReadPoint(predicate: String) extends LakeOp {
    def name = "read_point" }
  final case class ReadRange(predicate: String) extends LakeOp {
    def name = "read_range" }
  case object ReadFull extends LakeOp { def name = "read_full" }
  /** Reads the version `back` commits before the latest one. */
  final case class TimeTravel(back: Int) extends LakeOp {
    def name = "read_timetravel" }
  case object Compact extends LakeOp { def name = "compact" }
  case object Vacuum extends LakeOp { def name = "vacuum" }
  /** The streaming sink query, run through the program's query map. */
  case object Stream extends LakeOp { def name = "st18_stream_sink" }

  val Commits: Set[String] =
    Set("append", "merge", "delete", "delete_mor", "update_mor", "compact")
}

/** Seeded generator of the lakehouse operations. It tracks which
  * (l_orderkey, l_linenumber) keys are live, so every delete, update
  * and point read draws its keys from rows that are present and every
  * commit verb has something to commit. The same seed and initial keys
  * give the same operations.
  */
final class LakeScript(seed: Long, initial: Seq[(Long, Int)]) {
  import LakeOp._
  import LakeScript._

  private val orders = mutable.ArrayBuffer.empty[Long]
  private val slot = mutable.HashMap.empty[Long, Int]
  private val lines = mutable.HashMap.empty[Long, mutable.TreeSet[Int]]
  initial.sortBy(identity).foreach { case (o, l) => addKey(o, l) }
  private var nextOrder: Long = if (orders.isEmpty) 0L else orders.max + 1

  private def addKey(o: Long, l: Int): Unit = {
    if (!lines.contains(o)) {
      slot(o) = orders.size; orders += o
      lines(o) = mutable.TreeSet.empty[Int]
    }
    lines(o) += l
  }

  private def dropOrder(o: Long): Unit = {
    val i = slot.remove(o).get
    val last = orders.remove(orders.size - 1)
    if (last != o) { orders(i) = last; slot(last) = i }
    lines.remove(o)
  }

  def liveKeys: Int = lines.valuesIterator.map(_.size).sum

  /** Distinct live orders drawn uniformly, in draw order, never `keep`. */
  private def drawOrders(r: SplittableRandom, n: Int,
      keep: Long = -1L): Seq[Long] = {
    val picked = mutable.LinkedHashSet.empty[Long]
    val want = math.min(n, orders.size - (if (slot.contains(keep)) 1 else 0))
    while (picked.size < want) {
      val o = orders(r.nextInt(orders.size))
      if (o != keep) picked += o
    }
    picked.toSeq
  }

  private def row(r: SplittableRandom, o: Long, l: Int): LineRow = {
    val q = (1 + r.nextInt(50)).toDouble
    LineRow(o, r.nextInt(20000).toLong, r.nextInt(1000).toLong, l, q,
      (90000 + r.nextInt(10320000)) / 100.0, r.nextInt(11) / 100.0,
      r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)),
      Seq("F", "O")(r.nextInt(2)), 9132 + r.nextInt(2498))
  }

  private def newOrders(r: SplittableRandom, nRows: Int): Seq[LineRow] = {
    val out = mutable.ArrayBuffer.empty[LineRow]
    while (out.size < nRows) {
      val o = nextOrder; nextOrder += 1
      for (l <- 1 to 1 + r.nextInt(7)) { out += row(r, o, l); addKey(o, l) }
    }
    out.toSeq
  }

  private def inList(keys: Seq[Long]): String =
    keys.mkString("l_orderkey IN (", ", ", ")")

  private def round(r: SplittableRandom): Seq[LakeOp] = {
    // the point-read key is live for the whole round: no delete draws it
    val pointOrder = orders(r.nextInt(orders.size))
    val pointLine = lines(pointOrder).toSeq(r.nextInt(lines(pointOrder).size))
    val lo = orders(r.nextInt(orders.size))
    val append = Append(newOrders(r, AppendRows))
    val existing = drawOrders(r, MergeRows / 8).map { o =>
      val ls = lines(o).toSeq
      row(r, o, ls(r.nextInt(ls.size)))
    }
    val merge = Merge(existing ++ newOrders(r, MergeRows / 2))
    val del = drawOrders(r, DeleteOrders, pointOrder)
    del.foreach(dropOrder)
    val delMor = drawOrders(r, DeleteOrders, pointOrder)
    delMor.foreach(dropOrder)
    val upd = drawOrders(r, UpdateOrders)
    val commits = Seq(append, merge, Delete(inList(del)),
      DeleteMoR(inList(delMor)),
      UpdateMoR(inList(upd), Seq("l_quantity" -> "l_quantity + 1",
        "l_returnflag" -> "'U'")))
    val reads = shuffle(r, Seq[LakeOp](
      ReadPoint(s"l_orderkey = $pointOrder AND l_linenumber = $pointLine"),
      ReadRange(s"l_orderkey BETWEEN $lo AND ${lo + RangeWidth}"),
      ReadFull, TimeTravel(1 + r.nextInt(5))))
    // commits keep their order (each one's keys are live when it runs);
    // the seed places the reads between them
    interleave(r, commits, reads)
  }

  private def interleave[A](r: SplittableRandom, xs: Seq[A],
      ys: Seq[A]): Seq[A] = {
    val out = mutable.ArrayBuffer.empty[A]
    var (i, j) = (0, 0)
    while (i < xs.size || j < ys.size) {
      val left = xs.size - i
      if (j == ys.size || (left > 0 && r.nextInt(left + ys.size - j) < left)) {
        out += xs(i); i += 1
      } else { out += ys(j); j += 1 }
    }
    out.toSeq
  }

  private def shuffle[A: scala.reflect.ClassTag](r: SplittableRandom,
      xs: Seq[A]): Seq[A] = {
    val a = xs.toArray
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** The operations of pass `p`: `rounds` rounds, the streaming sink
    * query at a seeded position, then compaction and vacuum. */
  def pass(p: Int, rounds: Int = Rounds): Seq[LakeOp] = {
    val r = new SplittableRandom(seed * 1000003L + p)
    val ops = (1 to rounds).flatMap(_ => round(r))
    val at = r.nextInt(ops.size + 1)
    (ops.take(at) :+ Stream) ++ ops.drop(at) ++ Seq(Compact, Vacuum)
  }
}

object LakeScript {
  // rounds per pass, and rows and keys touched per round, sized for a
  // ~60k-row table
  private val Rounds = 2
  private val AppendRows = 300
  private val MergeRows = 300
  private val DeleteOrders = 60
  private val UpdateOrders = 40
  private val RangeWidth = 150L
}
