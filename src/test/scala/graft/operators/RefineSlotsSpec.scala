package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Bridge, SpatialJoinStrategy}

import graft.SparkTestBase
import graft.core.{GeometryCodec, Mbb, TileBoundary}
import graft.functions._

/** The refine stage of a spatial join runs one task per (tile, shard) key,
  * heaviest first, up to 4 per core, and packs keys onto one slot per core
  * past that — with results unchanged. */
class RefineSlotsSpec extends SparkTestBase {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    if (!spark.experimental.extraStrategies.contains(SpatialJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ SpatialJoinStrategy
    registerAll(spark)
  }

  private def frame(rows: Seq[(Long, String)], id: String, geom: String): DataFrame =
    rows.toDF(id, "__wkt").withColumn(geom, st_geomfromwkt(col("__wkt"))).drop("__wkt")

  private def box(x: Double, y: Double, w: Double) =
    s"POLYGON(($x $y,${x + w} $y,${x + w} ${y + w},$x ${y + w},$x $y))"

  private def randomBoxes(n: Int, seed: Long, from: Long = 0L) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (from + i, box(rnd.nextDouble() * 60, rnd.nextDouble() * 40,
      0.5 + rnd.nextDouble() * 3)))
  }

  private def brute(a: Seq[(Long, String)], b: Seq[(Long, String)]): Set[(Long, Long)] = {
    val gb = b.map { case (j, w) => (j, GeometryCodec.fromWkt(w)) }
    a.flatMap { case (i, w) =>
      val g = GeometryCodec.fromWkt(w)
      gb.collect { case (j, h) if g.intersects(h) => (i, j) }
    }.toSet
  }

  /** Shuffle records read by each task of each stage that ran in `body`. */
  private def shuffleReads(body: => Unit): Map[Int, Seq[Long]] = {
    val sc = spark.sparkContext
    val reads = new ConcurrentLinkedQueue[(Int, Long)]
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          reads.add((t.stageId, t.taskMetrics.shuffleReadMetrics.recordsRead))
    }
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try { body; Bridge.drainListenerBus(sc) } finally sc.removeSparkListener(listener)
    reads.asScala.toSeq.groupBy(_._1).map { case (s, rs) => s -> rs.map(_._2) }
  }

  test("refineSlots: one slot per key heaviest first; LPT packing past the cap") {
    val tiles = (0 until 6).map(i => TileBoundary(i, Mbb(i, 0, i + 1, 1))).toArray
    val space = Mbb(0, 0, 6, 1)
    val w = Map(0 -> 10L, 1 -> 50L, 2 -> 30L, 3 -> 30L, 4 -> 5L)
    val idx = new TileIndex(tiles, space, shardCounts = Map(1 -> 2), tileWeights = w)
    def key(t: Int, s: Int = 0) = t.toLong * TileIndex.MaxShards + s

    // 7 keys: tile 1's two shards weigh 25 each
    val (n, slots) = idx.refineSlots(16)
    assert(n == 7)
    assert(slots == Map(key(2) -> 0, key(3) -> 1, key(1, 0) -> 2, key(1, 1) -> 3,
      key(0) -> 4, key(4) -> 5, key(5) -> 6))

    // 3 slots: 30 | 30 | 25, then each key to the least-loaded slot: 25 -> 2,
    // 10 -> 0 (30 = 30, lower id), 5 -> 1, and the weightless tile 5 -> 1
    // (load 35 against 40 and 50)
    val (n3, packed) = idx.refineSlots(3)
    assert(n3 == 3)
    assert(packed == Map(key(2) -> 0, key(3) -> 1, key(1, 0) -> 2, key(1, 1) -> 2,
      key(0) -> 0, key(4) -> 1, key(5) -> 1))

    // weightless keys deal round-robin instead of piling onto one slot
    val flat = new TileIndex(tiles, space)
    val (_, dealt) = flat.refineSlots(4)
    assert(dealt.values.groupBy(identity).values.map(_.size).toSeq.sorted == Seq(1, 1, 2, 2))
  }

  test("keyRuns: a slot builds one key's index at a time, probing it before the next") {
    val build = Seq(1L -> "a", 1L -> "b", 3L -> "c", 5L -> "d", 5L -> "e", 7L -> "f")
    val probe = Seq(0L -> "p", 1L -> "q", 1L -> "r", 2L -> "s", 5L -> "t", 6L -> "u", 7L -> "v", 9L -> "w")
    val log = scala.collection.mutable.ArrayBuffer.empty[String]
    val out = SpatialJoin.keyRuns(build.iterator, probe.iterator)(_._1, _._1) { run =>
      val rows = run.map(_._2).toList
      log += s"build ${rows.mkString}"
      rows
    } { (rows, p) =>
      log += s"probe ${p._2}"
      rows.iterator.map(b => b + p._2)
    }
    assert(log.isEmpty, "nothing is built before the first row is asked for")
    assert(out.toList == List("aq", "bq", "ar", "br", "dt", "et", "fv"))
    // every probe row of a key runs before the next key's build rows are
    // read; probe rows of keys without build rows (0, 2, 6, 9) meet an
    // empty index, and build rows of a key without probe rows (3) build none
    assert(log == Seq("build ", "probe p", "build ab", "probe q", "probe r",
      "build ", "probe s", "build de", "probe t", "build ", "probe u",
      "build f", "probe v", "build ", "probe w"))
  }

  test("the refine stage shuffles each side once onto its slots, on the UnsafeRow serializer") {
    val a = frame(randomBoxes(100, 3), "ida", "ga"); val b = frame(randomBoxes(100, 4, 500L), "idb", "gb")
    val cfg = SpatialJoin.Config(bucket = 8)
    val exec = SpatialJoin.join(a, "ga", b, "gb", cfg).queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val joins = exec.collect { case e: org.apache.spark.sql.graft.SpatialJoinExec => e }
    assert(joins.size == 1, exec.toString)
    // the shuffles between the exec's children and its output
    def shuffles(rdd: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.ShuffleDependency[_, _, _]] =
      rdd.dependencies.flatMap {
        case s: org.apache.spark.ShuffleDependency[_, _, _] => Seq(s)
        case d => shuffles(d.rdd)
      }
    val deps = shuffles(joins.head.execute())
    val idx = SpatialJoin.planTiles(envelopes(a, "ga"), envelopes(b, "gb"), cfg)
    val keys = idx.tiles.map(t => idx.shardsOf(t.tileId)).sum
    val cores = spark.sparkContext.defaultParallelism
    val (nSlots, _) = idx.refineSlots(if (keys <= 4 * cores) keys else cores)
    assert(deps.size == 2, s"one shuffle per side: $deps")
    deps.foreach { d =>
      assert(d.partitioner.numPartitions == nSlots)
      assert(d.serializer.getClass.getSimpleName == "UnsafeRowSerializer", d.serializer)
    }
  }

  test("a uniform 12-tile join refines in 12 tasks, none above 1.5x the mean input rows") {
    // a 24 x 24 lattice of 0.5-unit boxes on both sides: fg cuts the square
    // space into 3 x 4 tiles of 48 boxes per side, and no box crosses a tile
    // edge
    val lattice = for (i <- 0 until 24; j <- 0 until 24) yield ((i * 24 + j).toLong, box(i, j, 0.5))
    val a = frame(lattice, "ida", "ga"); val b = frame(lattice, "idb", "gb")
    val cfg = SpatialJoin.Config(bucket = 96)
    var got: Array[(Long, Long)] = null
    val reads = shuffleReads {
      got = SpatialJoin.join(a, "ga", b, "gb", cfg).select("ida", "idb").as[(Long, Long)].collect()
    }
    assert(got.toSet == lattice.map { case (i, _) => (i, i) }.toSet && got.length == 576)
    val refine = reads.values.filter(_.sum > 0).toSeq
    assert(refine.size == 1, s"stages reading shuffle data: $reads")
    val tasks = refine.head
    assert(tasks.size == 12, s"refine tasks: $tasks")
    val mean = tasks.sum.toDouble / tasks.size
    assert(tasks.forall(_ <= 1.5 * mean), s"refine task input rows: $tasks")
  }

  test("hot-tile sharded keys: SQL == DataFrame == brute force") {
    val bucket = 16
    val hotRows = SpatialJoin.HotTileFactor * bucket + 200
    val la = randomBoxes(200, 7) ++ (0 until hotRows).map(i => (1000L + i, box(20, 20, 1)))
    val lb = randomBoxes(250, 8) ++ Seq((5000L, box(19.5, 19.5, 2)))
    val a = frame(la, "ida", "ga"); val b = frame(lb, "idb", "gb")
    val cfg = SpatialJoin.Config(bucket = bucket)
    val idx = SpatialJoin.planTiles(envelopes(a, "ga"), envelopes(b, "gb"), cfg)
    assert(idx.shardCounts.nonEmpty, "the hot tile was not sharded")
    val (nSlots, slots) = idx.refineSlots(4 * spark.sparkContext.defaultParallelism)
    assert(slots.size > idx.tiles.length && nSlots <= slots.size)

    val want = brute(la, lb)
    assert(want.count(_._1 >= 1000) >= hotRows)
    val df = SpatialJoin.join(a, "ga", b, "gb", cfg).select("ida", "idb").as[(Long, Long)].collect()
    a.createOrReplaceTempView("slot_a"); b.createOrReplaceTempView("slot_b")
    val sql = try {
      spark.conf.set("graft.join.bucket", bucket.toString)
      spark.sql("SELECT ida, idb FROM slot_a JOIN slot_b ON st_intersects(ga, gb)")
        .as[(Long, Long)].collect()
    } finally spark.conf.unset("graft.join.bucket")
    assert(df.length == df.toSet.size && sql.length == sql.toSet.size, "duplicate pairs")
    assert(df.toSet == want)
    assert(sql.toSet == want)
  }

  test("past the slot cap: refpoint, none and keepTile == brute force") {
    val la = randomBoxes(300, 21); val lb = randomBoxes(300, 22, from = 10000L)
    val a = frame(la, "ida", "ga"); val b = frame(lb, "idb", "gb")
    val cfg = SpatialJoin.Config(bucket = 8)
    val idx = SpatialJoin.planTiles(envelopes(a, "ga"), envelopes(b, "gb"), cfg)
    val cap = 4 * spark.sparkContext.defaultParallelism
    val (nSlots, slots) = idx.refineSlots(cap)
    assert(nSlots == cap && slots.size > 2 * cap, s"${slots.size} keys on $nSlots slots")

    val want = brute(la, lb)
    val env: Map[Long, Mbb] = (la ++ lb).map { case (i, w) =>
      val e = GeometryCodec.fromWkt(w).getEnvelopeInternal
      i -> Mbb(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
    }.toMap
    def tiles(m: Mbb) = idx.tilesFor(m.xmin, m.ymin, m.xmax, m.ymax).toSet

    var once: Array[(Long, Long)] = null
    val reads = shuffleReads {
      once = SpatialJoin.join(a, "ga", b, "gb", cfg).select("ida", "idb").as[(Long, Long)].collect()
    }
    assert(once.length == once.toSet.size && once.toSet == want)
    // past the cap the keys pack onto one refine slot per core
    val refine = reads.values.filter(_.sum > 0).toSeq
    assert(refine.map(_.size) == Seq(spark.sparkContext.defaultParallelism),
      s"stages reading shuffle data: $reads")

    // dedup none: a pair once per tile both sides share
    val none = SpatialJoin.join(a, "ga", b, "gb", cfg.copy(dedup = "none"))
      .select("ida", "idb").as[(Long, Long)].collect()
    val wantNone = want.toSeq.map { case (i, j) => (i, j) -> (tiles(env(i)) intersect tiles(env(j))).size }
    assert(none.groupBy(identity).map { case (p, ps) => p -> ps.length } == wantNone.toMap)

    // keepTile: each pair tagged with the owner tile of its reference point
    val tagged = SpatialJoin.join(a, "ga", b, "gb", cfg.copy(keepTile = true))
      .select("ida", "idb", "tile_id").as[(Long, Long, Int)].collect()
    assert(tagged.map(t => (t._1, t._2)).toSet == want && tagged.length == want.size)
    tagged.foreach { case (i, j, t) =>
      assert(t == idx.refTile(math.max(env(i).xmin, env(j).xmin), math.max(env(i).ymin, env(j).ymin)))
    }
  }
}
