package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchEnvSpec extends AnyFunSuite {
  private def parse(raw: Option[String]): (Int, String) = {
    val err = new java.io.ByteArrayOutputStream()
    val v = Console.withErr(err) {
      Harness.intEnv("SPARK_GRAFT_RETIME_CAP", 24, raw.map("SPARK_GRAFT_RETIME_CAP" -> _).toMap)
    }
    (v, err.toString("UTF-8"))
  }

  test("intEnv: non-integer values fall back to the default with one warning") {
    for (bad <- Seq("x", "")) {
      val (v, err) = parse(Some(bad))
      assert(v == 24, s"'$bad'")
      assert(err.linesIterator.size == 1 && err.contains("SPARK_GRAFT_RETIME_CAP"), err)
    }
  }

  test("intEnv: integers, 0 included, are read as given; unset is the default") {
    assert(parse(Some("0")) == ((0, "")))
    assert(parse(Some("7")) == ((7, "")))
    assert(parse(None) == ((24, "")))
  }

  test("cpus: SPARK_GRAFT_CPUS that is not a positive integer falls back to the core count") {
    for (bad <- Seq("x", "0")) {
      val err = new java.io.ByteArrayOutputStream()
      val v = Console.withErr(err)(Harness.cpus(Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(v == Runtime.getRuntime.availableProcessors, s"'$bad'")
      assert(err.toString("UTF-8").contains("SPARK_GRAFT_CPUS"), s"'$bad'")
    }
    assert(Harness.cpus(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
  }
}
