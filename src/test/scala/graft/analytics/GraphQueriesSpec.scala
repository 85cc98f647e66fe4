package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Planted-structure semantics for the LPA community operator — the
  * registered query's oracle proves cross-engine agreement on real data;
  * this pins WHAT the algorithm does on graphs with known ground truth,
  * driving the production [[GraphQueries.lpa]] iteration directly.
  */
class GraphQueriesSpec extends SparkSpec {

  private def lpa2(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val sym = graft.ops.Edges.symmetric(edges.toDF("u", "v"))
      .localCheckpoint()
    GraphQueries.lpa(sym, iters = 2).as[(Long, Long)].collect().toMap
  }

  test("two planted cliques joined by one bridge edge resolve to two communities") {
    // cliques {0..4} and {10..14}, bridge 4-10: within two iterations
    // every clique member must carry its clique's min label, and the
    // bridge must not merge them (each endpoint sees 4 intra-clique
    // neighbors vs 1 bridge neighbor — the mode argmax keeps it home)
    val k5a = for (i <- 0L to 4L; j <- i + 1 to 4L) yield (i, j)
    val k5b = for (i <- 10L to 14L; j <- i + 1 to 14L) yield (i, j)
    val got = lpa2(k5a ++ k5b :+ (4L, 10L))
    assert((0L to 4L).forall(got(_) == 0L),
      s"clique A labels: ${(0L to 4L).map(got)}")
    assert((10L to 14L).forall(got(_) == 10L),
      s"clique B labels: ${(10L to 14L).map(got)}")
  }

  test("tiebreak is deterministic: a 2-node community takes the smaller label") {
    val got = lpa2(Seq((7L, 3L)))
    // iteration 1 swaps the two self-labels; iteration 2 swaps them
    // back — each node's single neighbor is the sole mode either way.
    // What matters is determinism, not convergence on a 2-cycle.
    assert(got === Map(3L -> 3L, 7L -> 7L))
  }

  private def peel(edges: Seq[(Long, Long)], k: Int, rounds: Int) = {
    import spark.implicits._
    val sym = graft.ops.Edges.symmetric(edges.toDF("u", "v"))
    GraphQueries.kcorePeel(sym, k, rounds)
      .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1)
  }

  test("kcorePeel strips a pendant path in one round and keeps the clique stable") {
    // 5-clique {0..4} (degrees 4) + path 4-10-11 (10: deg 2, 11: deg 1):
    // round 1 of 3-core peeling drops 10 and 11 together (simultaneous
    // peel — both are sub-3 against the CURRENT degrees), leaving the
    // clique exactly; further rounds are a fixpoint.
    val clique = for (i <- 0L to 4L; j <- i + 1 to 4L) yield (i, j)
    val got = peel(clique ++ Seq((4L, 10L), (10L, 11L)), k = 3, rounds = 3)
    assert(got === Seq((0, 7L, 12L), (1, 5L, 10L), (2, 5L, 10L),
      (3, 5L, 10L)))
  }

  test("kcorePeel needs cascading rounds on a chain of marginal nodes") {
    // clique {0..3} (4-clique, degrees 3) + chain 3-20-21-22: each round
    // exposes the next chain node (22 first, then 21, then 20) — the
    // trajectory pins that peeling is iterative, not one-shot
    val clique = for (i <- 0L to 3L; j <- i + 1 to 3L) yield (i, j)
    val chain = Seq((3L, 20L), (20L, 21L), (21L, 22L))
    val got = peel(clique ++ chain, k = 2, rounds = 3)
    assert(got === Seq((0, 7L, 9L), (1, 6L, 8L), (2, 5L, 7L),
      (3, 4L, 6L)))
  }

  test("kcorePeel on an empty edge frame yields zero rows per round") {
    val got = peel(Seq.empty, k = 3, rounds = 2)
    assert(got === Seq((0, 0L, 0L), (1, 0L, 0L), (2, 0L, 0L)))
  }

  test("componentSizeHistogram: planted components bucket by size with min-label sums") {
    import spark.implicits._
    // components: triangle {1,2,3}, edge {10,11}, edge {20,21}, and a
    // 4-path {30,31,32,33} → sizes 2 (×2, min labels 10+20), 3 (×1,
    // min 1), 4 (×1, min 30)
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (20L, 21L),
      (30L, 31L), (31L, 32L), (32L, 33L)).toDF("a", "b")
    val got = GraphQueries.componentSizeHistogram(e, "a", "b")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((2L, 2L, 30L), (3L, 1L, 1L), (4L, 1L, 30L)))
  }
}
