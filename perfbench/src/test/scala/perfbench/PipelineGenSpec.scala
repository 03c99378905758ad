package perfbench

import org.scalatest.funsuite.AnyFunSuite

class PipelineGenSpec extends AnyFunSuite {

  test("the same seed gives the same inputs, another seed other inputs") {
    val a = PipelineGen.generate(7, 300, 50)
    assert(a == PipelineGen.generate(7, 300, 50))
    assert(a != PipelineGen.generate(8, 300, 50))
  }

  test("every seed has small_child rows, id-less rows and same-day ties listed against ord") {
    (1 to 5).foreach { seed =>
      val in = PipelineGen.generate(seed, 50, 20)
      assert(in.defs.exists(_.age == "small_child"))
      assert(in.defs.exists(_.id.isEmpty))
      val ties = in.changes.filter(_.day.isDefined).groupBy(c => (c.productId, c.day)).values.filter(_.size > 1)
      assert(ties.exists(t => t.head.ord > t.last.ord), s"seed $seed has no tie listed against ord")
    }
  }

  test("the rerun keeps the first run's changes and re-prices about a tenth of the products") {
    val in = PipelineGen.generate(3, 200, 50)
    assert(in.rerunChanges.take(in.changes.size) == in.changes)
    val repriced = in.rerunChanges.drop(in.changes.size).map(_.productId).distinct
    assert(repriced.size == 20)
    assert(in.rerunChanges.drop(in.changes.size).forall(_.ord > in.changes.map(_.ord).max))
  }

  test("pages hold every definition, in rotating envelopes") {
    val in = PipelineGen.generate(5, 120, 30)
    assert(in.pages.size == in.defs.size / 30 + (if (in.defs.size % 30 == 0) 0 else 1))
    assert(in.pages.head.startsWith("""{"data": """))
    assert(in.pages(1).startsWith("""{"items": """))
    assert(in.pages(3).startsWith("["))
    val ids = in.defs.flatMap(_.id)
    assert(ids.forall(id => in.pages.exists(_.contains(s""""id": $id,"""))))
  }
}
