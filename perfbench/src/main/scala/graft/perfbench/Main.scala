package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Correctness bookkeeping of one run: every checked operation counts as
  * attempted, and each failed check (or exception) as failed.
  */
final class Checks {
  var attempted = 0L
  var failed = 0L
  // row-level precision/recall counters of the workload's outputs
  var tp = 0L
  var fp = 0L
  var fn = 0L

  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"perfbench: CHECK FAILED: $what ${detail.take(2000)}")
    }
  }

  def score[A](got: Set[A], truth: Set[A]): Unit = {
    tp += got.intersect(truth).size
    fp += (got -- truth).size
    fn += (truth -- got).size
  }

  def precision: Double = if (tp + fp == 0) 1.0 else tp.toDouble / (tp + fp)
  def recall: Double = if (tp + fn == 0) 1.0 else tp.toDouble / (tp + fn)
}

/** What one measured unit did, in seconds of timed work. `writes` are the
  * write operations (pipeline runs, batch merges, pair-finder calls),
  * `reads` the timed reads by kind, one group per graph state read, `items`
  * the input items it processed.
  */
final case class UnitResult(items: Double, writes: Seq[Double], reads: Seq[Seq[(String, Double)]]) {
  def timedS: Double = writes.sum + reads.flatten.map(_._2).sum
}

/** Shared state handed to a workload. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path, val checks: Checks,
                val tracer: Tracer) {
  def dir(name: String): String = work.resolve(name).toString

  /** Time `f`, leaving out isolation spans run inside it. */
  def timeOp[A](f: => A): (A, Double) = {
    val iso0 = tracer.isolationNs
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0 - (tracer.isolationNs - iso0)) / 1e9)
  }

  def deleteTree(path: String): Unit = {
    val root = Paths.get(path)
    if (Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.toSeq.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
    }
  }

  def bytesUnder(path: String): Long = {
    val root = Paths.get(path)
    if (!Files.exists(root)) 0L
    else {
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }
  }
}

trait Workload {
  /** Generate the seeded inputs (overwriting); timed as `setup_s`. */
  def setup(): Unit
  /** Untimed preparation after set-up: truth, warm-up. */
  def prepare(): Unit
  /** One measured unit; `traced` selects the span-instrumented form. */
  def runUnit(index: Int, traced: Boolean): UnitResult
  /** Whole units run (and checked) before the measured ones. */
  def warmupUnits: Int = 0
  /** Unmeasured units before a traced run's first unit. */
  def tracedWarmupUnits: Int = math.max(1, warmupUnits)
  /** Checks made once after the measured units. */
  def finish(): Unit = ()
  /** Per-layer metrics of the traced units. */
  def layerMetrics(reports: Seq[SpanReport]): Map[String, Double]
  /** One human-readable line on what the run measured. */
  def describe(units: Seq[UnitResult]): String = ""
}

object Main {
  val SetupReps = 5

  val PerLayer: Seq[(String, String)] = Seq(
    "kg.extract.self_s" -> "s", "functions.regexp_groups.self_s" -> "s",
    "kg.surfaces.self_s" -> "s", "kg.surfaces.shuffle_bytes" -> "bytes",
    "kg.canonicalize.self_s" -> "s", "kg.canonicalize.distributed" -> "flag",
    "kg.lsh.self_s" -> "s", "kg.lsh.candidate_pairs" -> "count", "kg.lsh.useful_ratio" -> "ratio",
    "kg.cc.self_s" -> "s", "kg.cc.distributed" -> "flag", "kg.cc.jobs" -> "count",
    "kg.join_canonical.self_s" -> "s",
    "bulk.nodeset_merge.self_s" -> "s", "bulk.nodeset_merge.shuffle_bytes" -> "bytes",
    "bulk.nodeset_merge.spill_bytes" -> "bytes",
    "bulk.relset_merge.self_s" -> "s", "bulk.relset_merge.shuffle_bytes" -> "bytes",
    "bulk.relset_merge.spill_bytes" -> "bytes",
    "io.snapshot_write_s" -> "s", "io.bytes_written" -> "bytes",
    "io.write_amplification" -> "ratio", "io.snapshots_committed" -> "count",
    "streaming.merge_batch_s.first" -> "s", "streaming.merge_batch_s.last" -> "s",
    "streaming.merge.driver_gap_s" -> "s", "streaming.merge.plan_s" -> "s",
    "streaming.merge.tasks" -> "count", "streaming.extract_batch_s" -> "s",
    "ogm.match.p50_ms" -> "ms", "ogm.traverse.p50_ms" -> "ms",
    "ogm.traverse_chain.p50_ms" -> "ms", "ogm.raw_query.p50_ms" -> "ms",
    "ogm.read.jobs" -> "count", "ogm.read.driver_gap_ms" -> "ms",
    "ogm.read.rows_scanned_per_row" -> "ratio",
    "ops.minhash_pairs.self_s" -> "s", "ops.simhash_pairs.self_s" -> "s",
    "ops.embed_lsh_pairs.self_s" -> "s", "ops.minhash.candidate_pairs" -> "count",
    "ops.minhash.useful_ratio" -> "ratio",
    "functions.minhash_sig.self_s" -> "s", "functions.simhash64.self_s" -> "s",
    "functions.sign_lsh.self_s" -> "s",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s", "driver_gap_s" -> "s",
    "trace.overhead_ratio" -> "ratio")

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // the same session settings as the repo's graft.Bench
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Heap and non-heap memory in use after a full collection, in MB: what
    * the program still holds when a unit is done (cached tables, merged
    * state, driver structures). Unlike the resident set, it does not depend
    * on how far the JVM chose to grow its heap. Spark frees broadcast and
    * cached blocks from a cleaner thread after their owners are collected,
    * one at a time, so collections repeat until one frees less than 1%.
    */
  private def retainedMb(): Double = {
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    def used(): Double = {
      System.gc()
      (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
    }
    var prev = used()
    var cur = prev
    var rounds = 0
    do {
      Thread.sleep(200)
      prev = cur
      cur = used()
      rounds += 1
    } while (prev - cur > 0.01 * prev && rounds < 30)
    cur
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt
    val work = Paths.get(opts("work"))
    val tStart = System.nanoTime()
    val spark = session(cores, work)
    val tSession = System.nanoTime()
    val checks = new Checks
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, seed, work, checks, tracer)
    val wl: Workload = name match {
      case "build_entities" => new BuildWorkload(ctx)
      case "serve_mixed" => new ServeWorkload(ctx)
      case "dedup_docs" => new DedupWorkload(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def guarded[A](what: String)(f: => A): Option[A] =
      try Some(f)
      catch {
        case e: Throwable =>
          checks.attempted += 1
          checks.failed += 1
          System.err.println(s"perfbench: $what failed: $e")
          e.printStackTrace()
          None
      }

    val setupTimes = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      guarded("setup")(wl.setup())
      (System.nanoTime() - t0) / 1e9
    }
    val tPrep0 = System.nanoTime()
    guarded("prepare")(wl.prepare())
    val tPrep1 = System.nanoTime()

    // The program pins intermediate results (verified pairs, merged state);
    // an identical plan in the next unit would silently read them back, so
    // every unit starts from an empty cache.
    def unit(index: Int, instrument: Boolean): UnitResult = {
      spark.catalog.clearCache()
      wl.runUnit(index, instrument)
    }
    // Measured units until the time is up. Each run is a fresh JVM; unless
    // the workload asks for warm-up units its first unit runs cold, as a
    // batch job does. A traced run warms up too (see tracedWarmupUnits),
    // then alternates plain and traced units, so that the tracing overhead
    // is a ratio of about equally warm units.
    val warmups = if (traced) wl.tracedWarmupUnits else wl.warmupUnits
    (0 until warmups).foreach(w => guarded(s"warm-up unit $w")(unit(-1 - w, instrument = false)))
    val plain = mutable.ArrayBuffer.empty[UnitResult]
    val withTrace = mutable.ArrayBuffer.empty[UnitResult]
    val retained = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (checks.failed == 0 &&
      (elapsed < seconds || plain.isEmpty || (traced && withTrace.isEmpty))) {
      val instrument = traced && i % 2 == 1
      if (instrument) { tracer.unit = i; tracer.start() }
      val r = guarded(s"unit $i")(
        if (instrument) tracer.span("unit")(unit(i, instrument = true))
        else unit(i, instrument = false))
      if (instrument) tracer.stop()
      r.foreach(u => if (instrument) withTrace += u else { plain += u; retained += retainedMb() })
      i += 1
    }
    val tUnits = System.nanoTime()
    if (checks.failed == 0) guarded("final checks")(wl.finish())
    def sec(a: Long, b: Long) = f"${(b - a) / 1e9}%.1f"
    System.out.println(s"perfbench: $name seed=$seed units=${plain.size}+${withTrace.size} " +
      s"setup=${setupTimes.map(t => f"$t%.3f").mkString(",")} ${wl.describe(plain.toSeq)}")
    val states = plain.flatMap(_.reads).toSeq
    val readMs = states.flatten.map(_._2 * 1e3)
    System.out.println(f"perfbench: reads n=${readMs.size} p50=${Stats.median(readMs)}%.1f ms " +
      f"p90=${Stats.quantile(readMs, 0.9)}%.1f ms " +
      Reads.kindMedians(states).map { case (k, ms) => f"$k=$ms%.1f" }.mkString("p50 by kind: ", " ", " ms"))
    System.out.println(f"perfbench: memory peak_rss=${peakRssMb()}%.0f MB retained=" +
      retained.map(m => f"$m%.0f").mkString("", ",", " MB"))
    System.out.println(s"perfbench: phases session=${sec(tStart, tSession)}s " +
      s"setup=${sec(tSession, tPrep0)}s prepare=${sec(tPrep0, tPrep1)}s units=${sec(tPrep1, tUnits)}s " +
      s"finish=${sec(tUnits, System.nanoTime())}s")

    val correct = checks.failed == 0 && plain.nonEmpty
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        Seq(
          ("setup_s", Stats.median(setupTimes), "s"),
          ("items_per_s", Stats.median(plain.map(u => u.items / u.writes.sum).toSeq), "items/s")) ++
        Reads.kindMedians(states).map { case (k, ms) => (s"read_${k}_p50_ms", ms, "ms") } ++ Seq(
          ("precision", checks.precision, "ratio"),
          ("recall", checks.recall, "ratio"),
          ("retained_mb", if (retained.isEmpty) 0.0 else retained.max, "MB"),
          ("ok_ratio", (checks.attempted - checks.failed).toDouble / math.max(1L, checks.attempted), "ratio"))
      } else {
        val reports = tracer.reports()
        val layer = guarded("layer metrics")(wl.layerMetrics(reports)).getOrElse(Map.empty)
        val common = commonLayerMetrics(reports)
        val overhead = Stats.median(withTrace.map(_.timedS).toSeq) /
          math.max(1e-9, Stats.median(plain.map(_.timedS).toSeq))
        val values = layer ++ common + ("trace.overhead_ratio" -> overhead)
        val traceFile = Paths.get(opts("traces")).resolve(s"trace-$name-$seed.json")
        Files.write(traceFile, tracer.json(Map("workload" -> name, "seed" -> seed,
          "metrics" -> values)).getBytes("UTF-8"))
        System.out.println(s"perfbench: spans written to ${traceFile.getFileName}")
        PerLayer.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
      }
    val result = Json.render(Map(
      "correct" -> correct,
      "attempted" -> checks.attempted,
      "failed" -> checks.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (n, v, u) =>
        n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u)
      }: _*)))
    spark.stop()
    System.out.println("RESULT " + result)
  }

  /** Per-unit Spark totals of the traced units: everything under a unit's
    * root span except the isolation spans; median over traced units.
    */
  def commonLayerMetrics(reports: Seq[SpanReport]): Map[String, Double] = {
    val units = reports.filter(_.span.name == "unit")
    def perUnit(f: SpanReport => Double): Double = Stats.median(units.map { u =>
      val iso = reports.filter(r => r.span.unit == u.span.unit && r.span.isolation &&
        !reports.exists(p => p.span.id == r.span.parent && p.span.isolation))
      f(u) - iso.map(f).sum
    })
    Map(
      "spark.jobs" -> perUnit(_.incl.jobs.toDouble),
      "spark.tasks" -> perUnit(_.incl.tasks.toDouble),
      "spark.shuffle_write_bytes" -> perUnit(_.incl.shuffleWrite.toDouble),
      "spark.spill_bytes" -> perUnit(_.incl.spill.toDouble),
      "spark.gc_s" -> perUnit(_.incl.gcMs / 1e3),
      "driver_gap_s" -> perUnit(_.gapS))
  }
}
