package graft.graph

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class LinkGraphSpec extends SparkTestBase {
  import spark.implicits._

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("pageRank matches hand-computed exact integer iterations") {
    // A→B w1, A→C w1, B→C w2, C→A w1; scale 1000, damp 85/100, tele 150
    val nodes = Seq("A", "B", "C").toDF("host")
    val edges = Seq(("A", "B", 1L), ("A", "C", 1L), ("B", "C", 2L),
      ("C", "A", 1L)).toDF("src", "dst", "weight")
    val r1 = ranks(LinkGraph.pageRank(nodes, "host", edges,
      iterations = 1, scale = 1000L))
    assert(r1 == Map("A" -> 1000L, "B" -> 575L, "C" -> 1425L))
    val r2 = ranks(LinkGraph.pageRank(nodes, "host", edges,
      iterations = 2, scale = 1000L))
    assert(r2 == Map("A" -> 1361L, "B" -> 575L, "C" -> 1063L))
  }

  test("dangling nodes keep teleport-only rank; foreign-dst edges drop") {
    // D is dangling (no out-edges) and nothing links to it after iter 1;
    // an edge to an unknown host X must not surface X in the output.
    val nodes = Seq("A", "D").toDF("host")
    val edges = Seq(("A", "D", 1L), ("A", "X", 1L), ("D", "A", 0L))
      .toDF("src", "dst", "weight").where($"weight" > 0)
    val r2 = ranks(LinkGraph.pageRank(nodes, "host", edges,
      iterations = 2, scale = 1000000L))
    assert(r2.keySet == Set("A", "D"))
    // A gets no in-links at all → teleport-only each round
    assert(r2("A") == 150000L)
    // D's in-mass decays through the dangling drop: iter1 D = 150000 +
    // 85%*(1000000/2) = 575000; iter2 uses A=150000 → 150000+85%*75000
    assert(r2("D") == 150000L + 85L * 75000L / 100L)
  }

  test("result is bit-identical across partitionings") {
    val hosts = (0 until 40).map(i => s"h$i")
    val nodes = hosts.toDF("host")
    val edges = (0 until 400).map { i =>
      (s"h${i % 40}", s"h${(i * 7 + 3) % 40}", (i % 5 + 1).toLong)
    }.toDF("src", "dst", "weight").where($"src" =!= $"dst")
    val a = ranks(LinkGraph.pageRank(nodes.repartition(1), "host",
      edges.repartition(1), iterations = 4))
    val b = ranks(LinkGraph.pageRank(nodes.repartition(7), "host",
      edges.repartition(13), iterations = 4))
    assert(a == b)
  }

  test("pageRank keeps SQL null semantics: null hosts are nodes, null edges contribute nothing") {
    val nodes = Seq("A", "B", null).toDF("host")
    // A's null-dst edge counts toward A's out-weight (2) but reaches no
    // node; the null-src and null-weight edges count nowhere
    val edges = Seq[(String, String, Option[Long])](("A", "B", Some(1L)),
      ("A", null, Some(1L)), (null, "B", Some(5L)), ("B", "A", None),
      ("B", "A", Some(2L))).toDF("src", "dst", "weight")
    val r1 = ranks(LinkGraph.pageRank(nodes, "host", edges,
      iterations = 1, scale = 1000L))
    assert(r1 == Map("A" -> 1000L, "B" -> 575L, (null: String) -> 150L))
  }

  test("pageRank throws on overflow and on a zero out-weight") {
    def arithmetic(body: => Any): Boolean = {
      val e = intercept[Exception](body)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException])
    }
    val nodes = Seq("A", "B").toDF("host")
    val heavy = Seq(("A", "B", 100L)).toDF("src", "dst", "weight")
    assert(arithmetic(ranks(LinkGraph.pageRank(nodes, "host", heavy,
      iterations = 1, scale = 100000000000000000L))), "rank * weight overflow")
    val zero = Seq(("A", "B", 0L)).toDF("src", "dst", "weight")
    assert(arithmetic(ranks(LinkGraph.pageRank(nodes, "host", zero,
      iterations = 1))), "division by a zero out-weight")
  }

  test("hostGraph drops self-loops and counts multiplicity") {
    val links = Seq(("a", "b"), ("a", "b"), ("a", "a"), ("b", "a"))
      .toDF("s", "d")
    val g = LinkGraph.hostGraph(links, "s", "d")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(g == Set(("a", "b", 2L), ("b", "a", 1L)))
  }

  test("anchorText dedups, sorts, and counts") {
    val links = Seq(("t", "beta"), ("t", "alpha"), ("t", "beta"), ("u", "x"))
      .toDF("dst", "anchor")
    val got = LinkGraph.anchorText(links, "dst", "anchor")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(got == Set(("t", 3L, 2L, "alpha beta"), ("u", 1L, 1L, "x")))
  }
}
