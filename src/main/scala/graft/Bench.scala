package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Stable family id for a gate: name-hash split into `NumFamilies`
    * buckets. Depends only on the gate name, so per-gate minima stay
    * comparable across rounds regardless of catalog growth — the property
    * a hand-curated family list would lose every time a gate moved. */
  val NumFamilies = 3
  def family(name: String): Int = math.floorMod(name.hashCode, NumFamilies)

  def main(args: Array[String]): Unit = {
    // Family-JVM protocol: a 160+-gate catalog in ONE JVM inflates every
    // gate with accumulated GC/JIT/code-cache pressure (measured 1.15x on
    // shared-gate totals, BASELINE.md round-10). The parent process runs
    // each family in its OWN child JVM sequentially and merges the
    // records; a child (SPARK_GRAFT_BENCH_FAMILY set) runs just its
    // subset with the unchanged warmup + min-of-3 protocol. If spawning
    // fails (classpath oddity), the parent falls back to the single-JVM
    // run so the driver always gets a record.
    sys.env.get("SPARK_GRAFT_BENCH_FAMILY") match {
      case Some(f) => runGates(_ => sys.exit(0), onlyFamily = Some(f.toInt))
      case None =>
        if (sys.env.get("SPARK_GRAFT_BENCH_SINGLE_JVM").contains("1"))
          runGates(_ => (), onlyFamily = None)
        else runFamilies()
    }
  }

  /** Optional gate-subset restriction (comma list of gate names): the
    * sf10 lane runs curated gate families, not the whole catalog — the
    * quadratic-yield lattice joins at 100 copies emit ~10^10-row results
    * that are a documented single-run lane of their own (SCALE.md).
    * Children inherit the env, so the family protocol composes. */
  private def envOnly: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  private def r3(v: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, v)

  private def loadAvg(): Double =
    try java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    catch { case _: Throwable => -1.0 }

  /** Spawn one child JVM per family (same classpath + JVM args as this
    * process — the sbt fork's add-opens and -Xmx ride along via
    * RuntimeMXBean), collect their per-gate records, merge, and print the
    * same two record lines the single-JVM protocol printed. */
  private def runFamilies(): Unit = {
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java").getPath
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments
    val cp = System.getProperty("java.class.path")
    val tmp = java.nio.file.Files.createTempDirectory("graft_bench_fam")
    val perGate = scala.collection.mutable.LinkedHashMap[String, Option[Double]]()
    var spawnFailed = false
    (0 until NumFamilies).foreach { f =>
      val out = tmp.resolve(s"family_$f.json").toString
      val cmd = new java.util.ArrayList[String]()
      cmd.add(javaBin)
      jvmArgs.forEach(a => cmd.add(a))
      cmd.add("-cp"); cmd.add(cp); cmd.add("graft.Bench")
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_BENCH_FAMILY", f.toString)
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", out)
      // child chatter goes to stderr (inherited); child stdout would
      // pollute the parent's record lines — the driver tail-captures the
      // LAST ~2.2 KB of stdout and must see only the parent's merged
      // record, so it goes to /dev/null
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      pb.redirectOutput(new java.io.File("/dev/null"))
      try {
        val p = pb.start()
        val rc = p.waitFor()
        if (rc != 0) System.err.println(s"[bench] family $f exited rc=$rc")
        // primary channel: the trivially-parseable name\tvalue TSV the
        // child writes next to its JSON record; the JSON regex is only a
        // fallback for records from older builds
        val parsed = readGateTsv(out + ".tsv").getOrElse {
          val line = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(out)), "UTF-8")
          parseQueries(line)
        }
        // a clean child exit with zero parsed gates means the record
        // format drifted from this parser — fail LOUDLY instead of
        // silently rerunning the whole family in-process (which would
        // quietly reinstate the single-JVM GC/JIT inflation the family
        // protocol exists to remove)
        if (rc == 0 && parsed.isEmpty) {
          System.err.println("!" * 72)
          System.err.println(
            s"[bench] family $f exited rc=0 but its record parsed to ZERO " +
              "gates - record format drift; fix parseQueries/emitRecord")
          System.err.println("!" * 72)
          throw new IllegalStateException(s"family $f: zero-gate parse after clean exit")
        }
        parsed.foreach { case (k, v) => perGate(k) = v }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] family $f spawn failed: $e")
        spawnFailed = true
      }
    }
    // any gate the children did not report (family crashed before its
    // record) re-runs in-process so the driver never loses a gate
    val missing = envOnly.map(SparkEntry.queries.keySet.intersect(_))
      .getOrElse(SparkEntry.queries.keySet) -- perGate.keySet
    if (spawnFailed || missing.nonEmpty) {
      if (missing.nonEmpty)
        System.err.println(s"[bench] rerunning ${missing.size} unreported gates in-process")
      runGates(res => res.foreach { case (k, v) => perGate(k) = v },
        onlyFamily = None, onlyNames = Some(missing), emit = false)
    }
    emitRecord(perGate.toSeq)
  }

  /** Per-gate `name\tvalue` lines a child writes next to its JSON record
    * (value `null` for a failed gate). Returns None when the file does not
    * exist (older-build record) so the caller can fall back to the JSON
    * regex; malformed lines fail loudly rather than parse to zero gates. */
  private[graft] def readGateTsv(path: String): Option[Seq[(String, Option[Double])]] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) None
    else Some {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(p).asScala.toSeq
        .filter(_.nonEmpty).map { ln =>
          ln.split('\t') match {
            case Array(k, "null") => k -> (None: Option[Double])
            case Array(k, v) => k -> Some(v.toDouble)
            case _ => throw new IllegalStateException(s"bad gate-tsv line: $ln")
          }
        }
    }
  }

  /** `"name":1.234` / `"name":null` entries of a child record line. */
  private[graft] def parseQueries(line: String): Seq[(String, Option[Double])] = {
    val m = """"queries":\{(.*?)\},"failed"""".r.findFirstMatchIn(line)
    m.toSeq.flatMap { qm =>
      """"([^"]+)":(null|[0-9.]+)""".r.findAllMatchIn(qm.group(1)).map { e =>
        e.group(1) -> (if (e.group(2) == "null") None else Some(e.group(2).toDouble))
      }.toSeq
    }
  }

  /** Frozen-envelope check (round-14 verdict #1): every gate with a
    * round-14 floor at the same SF must stay within the declared bar —
    * `wall > 1.5x floor AND wall - floor > 0.5s` is a violation (the
    * absolute term suppresses the sub-second family-placement jitter
    * class; see BASELINE.md). Gates added after the freeze have no floor
    * and are exempt until the next freeze. Returns (gate, wall, floor). */
  private[graft] def baselineEnvelopeFor(sfDir: String): Option[String] =
    new java.io.File(sfDir.stripSuffix("/")).getName match {
      case "sf0.1" => Some("tools/baseline_r14_sf01.tsv")
      case "sf1" | "graft_sf1" => Some("tools/baseline_r14_sf1.tsv")
      case _ => None // other SFs (sf0.01 iteration, sf10 lanes) have no frozen floor
    }

  private[graft] def baselineViolations(results: Seq[(String, Option[Double])],
                                 sfDir: String): Seq[(String, Double, Double)] = {
    baselineEnvelopeFor(sfDir).flatMap(readGateTsv).map { env =>
      val floor = env.collect { case (k, Some(v)) => k -> v }.toMap
      results.collect {
        case (k, Some(v)) if floor.get(k).exists(b => v > 1.5 * b && v - b > 0.5) =>
          (k, v, floor(k))
      }
    }.getOrElse(Nil)
  }

  private def emitRecord(results: Seq[(String, Option[Double])]): Unit = {
    val qs = results.map { case (k, v) =>
      s"\"" + k + "\":" + v.map(r3).getOrElse("null")
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, None) => k }
    val failedList = failed.map(k => s"\"$k\"").mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    if (failed.nonEmpty) {
      System.err.println("!" * 72)
      System.err.println(s"[bench] GATES FAILED: ${failed.mkString(", ")}")
      System.err.println("!" * 72)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val viols = baselineViolations(results, sfDir)
    if (viols.nonEmpty) {
      System.err.println("!" * 72)
      viols.foreach { case (k, v, b) =>
        System.err.println(f"[bench] BASELINE VIOLATION $k: $v%.3f s vs " +
          f"frozen $b%.3f s (${v / b}%.2fx; bar 1.5x + 0.5s)")
      }
      System.err.println("!" * 72)
    }
    val violJson = viols.map { case (k, v, b) =>
      s""""$k":{"sec":${r3(v)},"floor":${r3(b)}}"""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"failed":$failedList,"baseline_violations":$violJson,"load1m":${r3(loadAvg())},"sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "tools/bench_last.json")
    // driver-default runs archive the per-gate map to BENCH_FULL.json;
    // SPARK_GRAFT_BENCH_OUT runs (family children, sf1 records) only to
    // outPath — point queries_file at whichever is written
    val queriesFile =
      if (sys.env.contains("SPARK_GRAFT_BENCH_OUT")) outPath else "BENCH_FULL.json"
    // stdout = TWO record lines (round-16 verdict #2: the driver's
    // per-query PERF comparison was empty because no parsed line carried
    // the per-gate map):
    //  1. the FULL contract line (metric "total", with "queries") — for
    //     any consumer that reads whole stdout. A 188-gate map is ~4.5 KB,
    //     which cannot fit the driver's 2000-char stdout TAIL (gate names
    //     alone sum past 2 KB), so on big catalogs this line's head is
    //     truncated in the tail capture — by construction it can only be
    //     cut, never mis-parsed (a fragment has no leading '{').
    //  2. LAST, the compact line the tail-based parser has consumed since
    //     round 13 — guaranteed intact in the final 2000 chars. When the
    //     per-gate map itself is small enough to survive the tail whole
    //     (curated sf10/sf1 subsets), the compact line ALSO carries
    //     "queries" inline, so subset runs get per-gate parsing for free.
    // Additions-only: every pre-existing field keeps its name and shape.
    println(line)
    val inlineQs = if (qs.length <= 1200) s""""queries":$qs,""" else ""
    println(s"""{"metric":"total_compact","value":${r3(total)},"unit":"sec","n":${results.size},"n_failed":${failed.size},"failed":$failedList,${inlineQs}"n_baseline_violations":${viols.size},"load1m":${r3(loadAvg())},"sf":"$sfDir","queries_file":"$queriesFile"}""")
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outPath),
        (line + "\n").getBytes("UTF-8"))
      // the machine-readable per-gate channel the family parent prefers:
      // name\tvalue lines, immune to JSON field-order drift
      val tsv = results.map { case (k, v) =>
        k + "\t" + v.map(r3).getOrElse("null")
      }.mkString("", "\n", "\n")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outPath + ".tsv"), tsv.getBytes("UTF-8"))
      // self-contained archive copy at the repo root (round-12 verdict #3:
      // the driver's BENCH_rN.json keeps only a 2000-char stdout tail, so
      // a 175-gate queries map can never survive it; this file is the
      // per-round record `json.load` recovers every gate from — committed
      // by the round-start archive commit, one gate per line for diffs).
      // SPARK_GRAFT_BENCH_OUT-aware child runs (family JVMs) skip it:
      // only the parent's merged record is the round record.
      if (!sys.env.contains("SPARK_GRAFT_BENCH_OUT")) {
        val pretty = new StringBuilder
        pretty ++= s"""{"metric":"total","value":${r3(total)},"unit":"sec","n":${results.size},"n_failed":${failed.size},"failed":$failedList,"baseline_violations":$violJson,"load1m":${r3(loadAvg())},"sf":"$sfDir","queries":{"""
        pretty ++= results.map { case (k, v) =>
          "\n  \"" + k + "\": " + v.map(r3).getOrElse("null")
        }.mkString(",")
        pretty ++= "\n}}\n"
        java.nio.file.Files.write(
          java.nio.file.Paths.get("BENCH_FULL.json"),
          pretty.toString.getBytes("UTF-8"))
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] WARNING: could not persist $outPath: $e")
    }
  }

  /** The original single-JVM protocol over a gate subset: sf0.001
    * JIT/codegen warmup, then min-of-3 with a GC between timings. */
  private def runGates(done: Seq[(String, Option[Double])] => Unit,
                       onlyFamily: Option[Int],
                       onlyNames: Option[Set[String]] = None,
                       emit: Boolean = true): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // shared launcher recipe (incl. the AQE coalescing floor) — Sessions
    val spark = Sessions.localBuilder(Sessions.cpus).getOrCreate()
    // ERROR, not WARN: the driver's BENCH_rN.json keeps a tail of this
    // process's combined output, and at WARN the function-registry
    // re-registration chatter (one line per gate x function) is what
    // survives the tail instead of the record line (round-14 verdict #4 —
    // the "tail" field itself is driver-side, but its CONTENT is ours)
    spark.sparkContext.setLogLevel("ERROR")
    val gates = SparkEntry.queries.filter { case (name, _) =>
      onlyFamily.forall(_ == family(name)) && onlyNames.forall(_.contains(name)) &&
        envOnly.forall(_.contains(name))
    }
    // JIT/codegen warmup on the smallest SF so the timed loop measures
    // steady-state engine throughput, not first-touch compilation.
    gates.foreach { case (_, fn) =>
      try { fn(spark, "/root/testdata/sf0.001").count() }
      catch { case _: Throwable => () }
    }
    // min-of-3 per query: the host is shared and single runs jitter 2-6x
    // (the round-5 record carried an 18 s corpus_clean against a 2.6 s
    // steady state from a single loaded window — best-of-2 wasn't enough).
    // A GC between timings keeps one query's garbage from being charged to
    // the next (the round-3 q_knn "regression" was exactly this).
    // SPARK_GRAFT_BENCH_RUNS overrides the run count for lanes where 3
    // runs are unaffordable (the sf10 big-output singles) — any such
    // record must LABEL itself single-run (bench_sf10_report does).
    val nRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(3)
    require(nRuns >= 1, s"SPARK_GRAFT_BENCH_RUNS must be >= 1, got $nRuns")
    def once(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      System.gc()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    val results: Seq[(String, Option[Double])] = gates.toSeq.map { case (name, fn) =>
      val runs = Seq.fill(nRuns)(once(fn))
      name -> (if (runs.exists(_ < 0)) None else Some(runs.min))
    }
    if (emit) emitRecord(results)
    spark.stop()
    done(results)
  }
}
