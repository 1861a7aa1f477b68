package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.mapreduce.Workloads.CondorcetMaple1

/** `CondorcetMaple1` emits, for every line, exactly the `(key, value)`
  * sequence of its per-call reference form, whether a pair comes from
  * the shared table or is built past the table's bound. The table is
  * one per JVM, so the cases run in order: the bound case, which fills
  * it, comes last.
  */
class CondorcetMaple1Spec extends AnyFunSuite {

  private def emitted(line: String): Seq[(String, String)] =
    CondorcetMaple1.maple(line).iterator.toSeq

  private def assertReference(line: String): Unit =
    assert(emitted(line) == ReferenceForms.condorcetMaple1Pairs(line).toSeq, line)

  private def ballots(names: Seq[String], n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(rnd.shuffle(names).mkString(","))
  }

  test("generated 10-candidate ballots match the reference and reuse the table's tuples") {
    val lines = ballots((0 until 10).map(_.toString), 500, seed = 11)
    lines.foreach(assertReference)
    assert(CondorcetMaple1.tablePairs >= 90)
    lines.take(20).foreach { l =>
      emitted(l).zip(emitted(l)).foreach { case (x, y) => assert(x eq y, l) }
    }
  }

  test("padding, empty fields, repeats, long names and short lines match the reference") {
    Seq(
      " 3 , 1,  2 ", "3,,1,,,2", ",,", " , ", "3,3,1", "1,3,3,1",
      "alice,bob,carol", "bob,alice,carol", "carol, bob ,alice,al",
      "7", "  7  ", "", "x,y", "y,x", "ab,a", "a,ab",
    ).foreach(assertReference)
  }

  test("four threads filling the shared table emit the reference and share one tuple per pair") {
    val names = (0 until 10).map(i => s"p$i")
    val before = CondorcetMaple1.tablePairs
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val start = new CountDownLatch(1)
    try {
      val runs = (0 until 4).map { t =>
        Future {
          start.await()
          ballots(names, 300, seed = 100L + t).map(l => l -> emitted(l))
        }
      }
      start.countDown()
      val out = Await.result(Future.sequence(runs), 2.minutes).flatten
      out.foreach { case (l, got) => assert(got == ReferenceForms.condorcetMaple1Pairs(l).toSeq, l) }
      // one instance per (key, value): a thread that lost the insert
      // race returns the table's tuple, not its own
      val perPair = out.flatMap(_._2).groupBy(identity).values
      perPair.foreach { ts => assert(ts.forall(_ eq ts.head), ts.head) }
      assert(CondorcetMaple1.tablePairs == before + 90)
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  test("past PairCap distinct pairs, votes are built per call and the table stays at its bound") {
    val names = (0 until 60).map(i => f"f$i%02d")
    val lines = Seq(names.mkString(","), names.reverse.mkString(",")) ++
      ballots(names, 3, seed = 7)
    assert(names.size * (names.size - 1) > CondorcetMaple1.PairCap)
    lines.foreach(assertReference)
    assert(CondorcetMaple1.tablePairs == CondorcetMaple1.PairCap)
    lines.foreach(assertReference)
    ballots((0 until 10).map(_.toString), 50, seed = 12).foreach(assertReference)
    assert(CondorcetMaple1.tablePairs == CondorcetMaple1.PairCap)
  }
}
