package perfbench

import java.security.MessageDigest

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

class LakeScriptSpec extends AnyFunSuite {
  import LakeOp._

  private val initial = for (o <- 0L until 2000L; l <- 1 to 1 + (o % 4).toInt)
    yield (o, l)

  private def hashOf(seed: Long, passes: Int = 4): String = {
    val s = new LakeScript(seed, initial)
    val text = (0 until passes).flatMap(p => s.pass(p)).mkString("\n")
    MessageDigest.getInstance("SHA-256").digest(text.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  test("the same seed yields the same batches and predicates") {
    assert(hashOf(7) == hashOf(7))
    assert(hashOf(7) != hashOf(8))
  }

  test("deletes, updates and point reads only name live keys") {
    val live = mutable.Map.empty[Long, mutable.Set[Int]]
    initial.foreach { case (o, l) =>
      live.getOrElseUpdate(o, mutable.Set.empty) += l }
    def orders(p: String): Seq[Long] = p.stripPrefix("l_orderkey IN (")
      .stripSuffix(")").split(", ").toSeq.map(_.toLong)
    val s = new LakeScript(3, initial)
    for (p <- 0 until 5; op <- s.pass(p)) op match {
      case Append(rows) => rows.foreach(r =>
        live.getOrElseUpdate(r.orderKey, mutable.Set.empty) += r.lineNumber)
      case Merge(rows) => rows.foreach(r =>
        live.getOrElseUpdate(r.orderKey, mutable.Set.empty) += r.lineNumber)
      case Delete(pr) =>
        assert(orders(pr).nonEmpty && orders(pr).forall(live.contains))
        orders(pr).foreach(live.remove)
      case DeleteMoR(pr) =>
        assert(orders(pr).nonEmpty && orders(pr).forall(live.contains))
        orders(pr).foreach(live.remove)
      case UpdateMoR(pr, _) =>
        assert(orders(pr).nonEmpty && orders(pr).forall(live.contains))
      case ReadPoint(pr) =>
        val Array(o, l) = "\\d+".r.findAllIn(pr).toArray.map(_.toLong)
        assert(live.get(o).exists(_.contains(l.toInt)), pr)
      case _ =>
    }
    assert(live.valuesIterator.map(_.size).sum == s.liveKeys)
  }

  test("every pass ends with compaction and vacuum") {
    val s = new LakeScript(1, initial)
    for (p <- 0 until 3) assert(s.pass(p).takeRight(2) == Seq(Compact, Vacuum))
  }
}
