package graftbench

import org.scalatest.funsuite.AnyFunSuite

class MetricNamesSpec extends AnyFunSuite {
  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  private val spec: String = {
    val f = Seq("../BENCHMARK.json", "BENCHMARK.json").map(new java.io.File(_)).find(_.exists).get
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
  }
  private val declared: Seq[String] =
    "\"name\":\\s*\"([^\"]*)\"".r.findAllMatchIn(spec).map(_.group(1)).toSeq

  test("every declared workload and metric name is well formed and unique") {
    assert(declared.nonEmpty)
    declared.foreach(n => assert(NamePattern.matches(n), n))
    assert(declared.distinct.size == declared.size)
  }

  test("every layer the traced run computes is well formed and declared") {
    val names = Layers.compute(Nil, Map.empty, Nil, cores = 4).keys
    names.foreach(n => assert(NamePattern.matches(n), n))
    names.foreach(n => assert(declared.contains(n), s"$n is not declared"))
    (Layers.Counts ++ Seq("trace.overhead", "trace.plan_changes"))
      .foreach(n => assert(declared.contains(n), s"$n is not declared"))
  }
}
