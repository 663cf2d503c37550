package graft

import org.scalatest.funsuite.AnyFunSuite

/** The env-knob parser every numeric SPARK_GRAFT_* knob goes through
  * (StreamPartitions, GraftSession.cpus, QProfile, IterBench). An env var
  * cannot be set inside the test JVM, so the pure parser is called. */
class KnobsSpec extends AnyFunSuite {

  test("positiveInt rejects a non-positive or non-numeric value, naming knob and value") {
    for (bad <- Seq("abc", "0", "-3", "")) {
      val e = intercept[IllegalArgumentException](
        Knobs.positiveInt("SPARK_GRAFT_STREAM_PARTITIONS", bad))
      assert(e.getMessage ==
        s"SPARK_GRAFT_STREAM_PARTITIONS must be a positive integer, got '$bad'")
    }
  }

  test("positiveInt reads a positive integer, ignoring surrounding blanks") {
    assert(Knobs.positiveInt("SPARK_GRAFT_CPUS", "1") == 1)
    assert(Knobs.positiveInt("SPARK_GRAFT_CPUS", " 8 ") == 8)
  }
}
