package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** Properties of the clustering rule, checked without Spark. */
class ScoringSpec extends AnyFunSuite {

  test("cluster edges keep every fixture family transitively connected") {
    // union-find over each family's code tokens (the form the pipeline
    // compares, see NameFixtures.tokenOf) with Scoring.clusterMatch as
    // the edge rule: a family that splits would be split by the
    // pipeline's connected components too
    val split = NameFixtures.families.filter { fam =>
      val ns = fam.map(_.filter(_.isLetter).toLowerCase).distinct
      val parent = Array.tabulate(ns.length)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      for (i <- ns.indices; j <- (i + 1) until ns.length)
        if (Scoring.clusterMatch(ns(i), ns(j))) parent(find(i)) = find(j)
      ns.indices.map(find).distinct.size > 1
    }
    assert(split.isEmpty, s"families split by the cluster-edge rule: $split")
  }
}
