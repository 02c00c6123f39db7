package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** A minimal test suite: named test bodies, run in order, that fail by
  * throwing (`assert`, [[fail]]). It keeps the tests on the same compiler
  * path as the benchmark, with nothing but Spark's jars on the classpath. */
trait Suite {
  private val tests = mutable.ArrayBuffer.empty[(String, () => Unit)]

  def test(name: String)(body: => Unit): Unit = tests += (name -> (() => body))

  def fail(msg: String): Nothing = throw new AssertionError(msg)

  def afterAll(): Unit = ()

  /** Runs every test; returns the names of those that failed. */
  def run(): Seq[String] = {
    val suite = getClass.getSimpleName
    try tests.toSeq.flatMap { case (name, body) =>
      try { body(); println(s"[pass] $suite: $name"); None }
      catch {
        case NonFatal(e) =>
          println(s"[FAIL] $suite: $name: $e")
          Some(s"$suite: $name")
      }
    } finally afterAll()
  }
}

/** Runs the benchmark's tests: `python3 perfbench/run.py --test`. */
object Tests {
  def main(args: Array[String]): Unit = {
    val failed = Seq(new StatsSuite, new MetricsSuite, new GenSuite)
      .flatMap(_.run())
    println(s"${failed.size} failed")
    if (failed.nonEmpty) System.exit(1)
  }
}
