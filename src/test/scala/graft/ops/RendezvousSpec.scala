package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RendezvousSpec extends SparkSpec {
  import spark.implicits._

  private def assignAll(keys: Seq[Long], n: Int): Map[Long, Int] =
    Rendezvous.assign(keys.toDF("k"), "k", n).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("assignments are stable, in range, and roughly balanced") {
    val keys = (0L until 2000L)
    val a = assignAll(keys, 8)
    assert(a.values.forall(s => s >= 0 && s < 8))
    assert(a == assignAll(keys, 8)) // deterministic
    val sizes = a.values.groupBy(identity).view.mapValues(_.size)
    assert(sizes.size == 8 && sizes.values.min > 150 && sizes.values.max < 350)
  }

  test("the consistency law: growing n to n+1 only moves keys to the NEW shard") {
    val keys = (0L until 3000L)
    val a8 = assignAll(keys, 8)
    val a9 = assignAll(keys, 9)
    val moved = keys.filter(k => a8(k) != a9(k))
    assert(moved.nonEmpty && moved.forall(k => a9(k) == 8))
    // expected move fraction ~ 1/9
    assert(moved.size > 3000 / 9 / 2 && moved.size < 3000 / 9 * 2)
  }

  test("removal symmetry: shrinking n only re-homes the removed shard's keys") {
    val keys = (0L until 3000L)
    val a9 = assignAll(keys, 9)
    val a8 = assignAll(keys, 8)
    keys.foreach { k =>
      if (a9(k) != 8) assert(a8(k) == a9(k), s"key $k moved needlessly")
    }
  }

  test("single shard, bounds validation") {
    assert(assignAll(Seq(1L, 2L), 1).values.forall(_ == 0))
    intercept[IllegalArgumentException] {
      Rendezvous.assign(Seq(1L).toDF("k"), "k", 0)
    }
    intercept[IllegalArgumentException] {
      Rendezvous.assign(Seq(1L).toDF("k"), "k", 65537)
    }
  }

  test("the plan is narrow: no exchange anywhere") {
    val df = Rendezvous.assign((0L until 100L).toDF("k"), "k", 16)
    val pi = graft.plans.PlanInspect(df)
    assert(pi.exchangeFree, pi.root.toString)
  }
}
