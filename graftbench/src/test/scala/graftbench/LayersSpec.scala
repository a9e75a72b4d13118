package graftbench

import org.scalatest.funsuite.AnyFunSuite

class LayersSpec extends AnyFunSuite {
  private val pass = Map("exec.tasks" -> 12.0, "connector.pages" -> 85.0, "load.files" -> 4.0)

  test("passes with identical counts show no plan change") {
    assert(Layers.planChanges(Seq(pass, pass, pass)) == 0)
    assert(Layers.planChanges(Nil) == 0)
  }

  test("each count that differs between passes is one plan change") {
    assert(Layers.planChanges(Seq(pass, pass + ("exec.tasks" -> 13.0))) == 1)
    assert(Layers.planChanges(Seq(pass, pass + ("exec.tasks" -> 13.0),
      pass + ("load.files" -> 5.0))) == 2)
  }

  test("a count only some passes report is compared among those") {
    assert(Layers.planChanges(Seq(pass, pass + ("lsm.segments" -> 2.0))) == 0)
    assert(Layers.planChanges(Seq(pass + ("lsm.segments" -> 2.0), pass,
      pass + ("lsm.segments" -> 3.0))) == 1)
  }
}
