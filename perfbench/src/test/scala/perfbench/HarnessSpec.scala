package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Failure isolation: a failing op costs exactly one failed op, keeps its
  * cause, and the run goes on — also when the op stops the SparkContext. */
class HarnessSpec extends AnyFunSuite {
  private def harness() = {
    val work = java.nio.file.Files.createTempDirectory(
      new java.io.File("target").getAbsoluteFile.toPath, "harness").toString
    val h = new Harness(2, work, new Tracer(false))
    h.newSession()
    h
  }

  private def rangeOp(h: Harness, name: String, expected: Option[Digest] = None) =
    h.op(name, expected)(h.spark.range(100).toDF("x"))(df => Some(Digest.of(df)))

  test("an op that throws fails alone and keeps its cause") {
    val h = harness()
    try {
      rangeOp(h, "before")
      h.op("boom")(h.spark.range(10))(_ => throw new IllegalStateException("planted"))
      rangeOp(h, "after")
      assert(h.records.map(_.name) == Seq("before", "boom", "after"))
      assert(h.records.count(!_.ok) == 1)
      assert(h.records(1).error.exists(_.contains("planted")))
    } finally h.stopSession()
  }

  test("a digest mismatch fails the op") {
    val h = harness()
    try {
      val good = rangeOp(h, "first").digest
      rangeOp(h, "same", good)
      rangeOp(h, "wrong", good.map(_.copy(rows = 1)))
      assert(h.records.map(_.ok) == Seq(true, true, false))
      assert(h.records(2).error.exists(_.startsWith("digest mismatch")))
    } finally h.stopSession()
  }

  test("a stopped SparkContext is replaced before the next op") {
    val h = harness()
    try {
      h.op("stop")(h.spark) { s => s.stop(); Some(Digest.of(s.range(1).toDF())) }
      val next = rangeOp(h, "next")
      assert(h.records.count(!_.ok) == 1)
      assert(next.ok && next.digest.exists(_.rows == 100))
      assert(h.sessionsBuilt == 2)
    } finally h.stopSession()
  }
}
