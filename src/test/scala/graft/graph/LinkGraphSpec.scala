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

  test("pageRank restores the session conf when it throws") {
    val floorKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val aqeKey = "spark.sql.adaptive.enabled"
    val thresholdKey = "spark.graft.graph.aqeRowThreshold"
    val saved = Seq(floorKey, aqeKey).map(k => k -> spark.conf.getOption(k))
    spark.conf.set(floorKey, "64k")
    spark.conf.set(aqeKey, "true")
    spark.conf.set(thresholdKey, "abc")
    try {
      val nodes = Seq("A", "B").toDF("host")
      val edges = Seq(("A", "B", 1L)).toDF("src", "dst", "weight")
      intercept[NumberFormatException] {
        LinkGraph.pageRank(nodes, "host", edges, iterations = 1)
      }
      assert(spark.conf.getOption(floorKey) == Some("64k"))
      assert(spark.conf.getOption(aqeKey) == Some("true"))
    } finally {
      spark.conf.unset(thresholdKey)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
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

  test("reliable-checkpoint mode matches local rounds and writes files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pr-ckpt")
    val sc = spark.sparkContext
    val prior = sc.getCheckpointDir
    sc.setCheckpointDir(dir.toString)
    spark.conf.set("spark.graft.graph.checkpoint", "reliable")
    try {
      val nodes = Seq("A", "B", "C").toDF("host")
      val edges = Seq(("A", "B", 1L), ("B", "C", 1L), ("C", "A", 1L))
        .toDF("src", "dst", "weight")
      val rel = ranks(LinkGraph.pageRank(nodes, "host", edges, iterations = 3))
      spark.conf.set("spark.graft.graph.checkpoint", "local")
      val loc = ranks(LinkGraph.pageRank(nodes, "host", edges, iterations = 3))
      assert(rel == loc)
      def anyFile(f: java.io.File): Boolean =
        f.isFile || Option(f.listFiles).exists(_.exists(anyFile))
      assert(anyFile(dir.toFile), "no reliable checkpoint files written")
      spark.conf.set("spark.graft.graph.checkpoint", "bogus")
      intercept[IllegalArgumentException] {
        LinkGraph.pageRank(nodes, "host", edges, iterations = 1)
      }
    } finally {
      spark.conf.unset("spark.graft.graph.checkpoint")
      prior.foreach(sc.setCheckpointDir)
    }
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
