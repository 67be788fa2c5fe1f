package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Par

/** The overlap contract of [[Par.joinAll]] / [[Par.both]] under injected
  * faults, and a guard that keeps it the only overlap mechanism in main.
  */
class ParSpec extends AnyFunSuite {

  private def boom(msg: String): Nothing = throw new RuntimeException(msg)

  test("a failing branch does not unwind before its sleeping sibling finishes") {
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[RuntimeException] {
      Par.joinAll(Seq(
        () => { Thread.sleep(300); siblingDone.set(true); 1 },
        () => boom("fast")))
    }
    assert(e.getMessage == "fast")
    assert(siblingDone.get, "the caller recovered while a branch still ran")

    siblingDone.set(false)
    intercept[RuntimeException] {
      Par.both({ Thread.sleep(300); siblingDone.set(true) }, boom("fast"))
    }
    assert(siblingDone.get, "both unwound while its pool branch still ran")
  }

  test("every failure is reported: the first in branch order, the rest suppressed") {
    // the first branch fails LAST in time, so branch order is what decides
    val e = intercept[RuntimeException] {
      Par.joinAll(Seq[() => Int](
        () => { Thread.sleep(200); boom("first") },
        () => { Thread.sleep(100); boom("second") },
        () => boom("third")))
    }
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second", "third"))
  }

  test("results come back in input order") {
    val out = Par.joinAll((0 until 6).map { i =>
      () => { Thread.sleep((6 - i) * 20L); i * 10 }
    })
    assert(out == (0 until 6).map(_ * 10))
  }

  test("both returns its typed pair") {
    val (n, s): (Long, String) = Par.both(40L + 2L, "x" * 3)
    assert(n == 42L && s == "xxx")
  }

  test("the last branch of joinAll runs on the calling thread") {
    val caller = Thread.currentThread()
    val Seq(first, last) =
      Par.joinAll(Seq(() => Thread.currentThread(), () => Thread.currentThread()))
    assert(last eq caller)
    assert(!(first eq caller))
  }

  test("no driver-side overlap outside Par: main code never forks its own") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val forbidden = Seq(
      "scala.concurrent.Future(", "Await.result", "ExecutionContext.fromExecutor")
    val walk = Files.walk(root)
    val sources = try walk.iterator().asScala.toList
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get("operators", "Par.scala")))
    finally walk.close()
    val hits = for {
      f <- sources
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      p <- forbidden if line.contains(p)
    } yield s"$f:${n + 1}: $p"
    if (hits.nonEmpty) fail(hits.mkString("overlap outside Par:\n  ", "\n  ", ""))
  }
}
