package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Iterate

class IterateSpec extends SparkSpec {

  private def toy: DataFrame = spark.range(6).select(col("id").as("x"))

  private def step(df: DataFrame): DataFrame = df.select((col("x") * 3 + 1).as("x"))

  private def xs(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).sorted.toSeq

  test("rounds returns n+1 states and hands step every state so far") {
    val seen = Seq.newBuilder[Int]
    val states = Iterate.rounds(toy, 4) { st => seen += st.size; step(st.last) }
    assert(states.size == 5)
    assert(seen.result() == Seq(1, 2, 3, 4))
    assert(Iterate.rounds(toy, 0)(st => step(st.last)).size == 1)
  }

  test("state i equals step applied i times") {
    val states = Iterate.rounds(toy, 4)(st => step(st.last))
    states.zipWithIndex.foreach { case (st, i) =>
      val expected = (0L until 6L).map(x => (1 to i).foldLeft(x)((v, _) => v * 3 + 1))
      assert(xs(st) == expected, s"state $i")
      assert(xs(st) == xs((1 to i).foldLeft(toy)((df, _) => step(df))), s"state $i")
    }
  }

  test("plan depth is constant in round count (per-round lineage cut)") {
    // Without the cut, state n's plan nests all n step plans; with it the
    // state is a flat scan whose plan cannot depend on how many rounds
    // produced it.
    def planSize(n: Int): Int =
      Iterate.rounds(toy, n)(st => step(st.last)).last
        .queryExecution.optimizedPlan.collect { case p => p }.size
    val at2 = planSize(2)
    val at10 = planSize(10)
    assert(at10 == at2, s"plan grew with rounds: $at2 nodes at 2, $at10 at 10")
    assert(at2 == 1, s"a checkpointed state should be a bare scan, got $at2 nodes")
  }
}
