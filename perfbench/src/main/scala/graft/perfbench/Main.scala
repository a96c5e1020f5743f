package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The pipeline benchmark's JVM side. `run.py` builds it and starts it as
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR --cpus C
  *
  * It generates the seed's inputs under DIR, sets up (the session build,
  * [[SetupReps]] times, then [[WarmUps]] warm-up iterations on another
  * seed), then runs closed-loop iterations for at least S seconds and
  * [[MinIterations]] iterations, checking every output off the clock. The last stdout line is the JSON result; the end-to-end metrics
  * with `--trace 0`, the per-layer metrics with `--trace 1`.
  */
object Main {
  val SetupReps = 3
  val MinIterations = 3
  val WarmUps = 1

  val Spans: Seq[String] = Seq(
    "GraftSession.setup", "CorpusIO.read_jsonl", "CorpusIO.file_stats",
    "text.normalize", "Dedup.exact", "Split.assign", "Quality.run",
    "Warehouse.track", "Medallion.bronze", "Medallion.silver",
    "Medallion.diamond", "Medallion.gold", "Dedup.minhash", "IngestCli.wave",
    "Incremental.exact_probe", "Incremental.fuzzy_probe", "Incremental.append",
    "IngestCli.gold_append", "IngestCli.video_wave", "Video.decode",
    "Incremental.hamming_probe", "Video.frame_signatures")
  val Counters: Seq[String] = Seq("self_s", "jobs", "task_cpu_s", "shuffle_write_mb", "driver_gap_s")
  val LayerExtras: Seq[String] = Seq("workload.tasks", "workload.gc_s", "workload.spill_mb",
    "workload.tracing_overhead_s", "Dedup.minhash.candidate_pairs",
    "Dedup.minhash.useful_ratio", "CorpusIO.read_jsonl.malformed",
    "Video.decode.failed", "Incremental.state_bytes")
  val PerLayer: Seq[String] = Spans.flatMap(s => Counters.map(c => s"$s.$c")) ++ LayerExtras

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Highest percentile with at least ten samples beyond it, as
    * (percentile, value); None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    val p = (99 to 1 by -1).find(p => s.length - math.ceil(s.length * p / 100.0).toInt >= 10)
    p.map(q => q -> s(math.ceil(s.length * q / 100.0).toInt - 1))
  }

  /** Old-generation occupancy right after a full collection, in MB: the
    * heap an iteration leaves retained once its results are out of scope. */
  private def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && Seq("Old", "Tenured").exists(p.getName.contains))
      .map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => d.toString
    case m: Seq[_] => m.map { case (k, x) => json(k) + ": " + json(x) }.mkString("{", ", ", "}")
    case x => x.toString
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.all.find(_.name == opts("workload")).getOrElse(
      sys.error(s"unknown workload ${opts("workload")}; one of ${Workloads.all.map(_.name).mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work")).getAbsoluteFile
    val cpus = opts("cpus").toInt

    // every path the engine writes lives under the run's work dir
    System.setProperty("spark.sql.warehouse.dir", new File(work, "warehouse").toURI.toString)
    System.setProperty("spark.local.dir", new File(work, "spark-local").getPath)
    System.setProperty("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop-tmp").getPath)
    System.setProperty("spark.ui.enabled", "false")
    System.setProperty("spark.sql.session.timeZone", "UTC")

    val in = wl.prepare(new File(work, "in/main"), seed)
    val warm = wl.prepare(new File(work, "in/warm"), seed + 7919L)
    var outN = 0
    def freshOut(): File = { outN += 1; new File(work, s"out/$outN") }

    // set-up: the session build + installs (repeated; median reported),
    // then warm-up iterations on the other seed, which pay the JIT and
    // codegen cold pass a one-shot CLI run pays
    var spark: SparkSession = null
    val sessions = (0 until SetupReps).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val (s, t) = Workloads.timed(GraftSession.get(s"local[$cpus]"))
      spark = s
      t
    }
    wl.stage(spark, in); wl.stage(spark, warm)
    val warmUp = (0 until WarmUps).map { _ =>
      val o = freshOut()
      val (it, t) = Workloads.timed(wl.iterate(spark, warm, o, None))
      deleteTree(o)
      System.err.println(f"[perfbench] warm-up: $t%.3f s waves=${it.waves.map(w => f"$w%.2f").mkString(",")}")
      t
    }.sum
    System.err.println(f"[perfbench] sessions: ${sessions.map(x => f"$x%.3f").mkString(",")} s")
    val setupS = median(sessions) + warmUp
    System.gc() // every iteration starts after a full collection

    final case class Sample(wall: Double, waves: Seq[Double], written: Long, heapMb: Double)
    var attempted = 0
    var failed = 0
    def iteration(o: File, t: Option[Tracer]): Option[(Sample, Iter)] = {
      attempted += 1
      try {
        val (it, wall) = Workloads.timed(wl.iterate(spark, in, o, t))
        val problems = wl.check(spark, in, o, it)
        problems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
        if (problems.nonEmpty) failed += 1
        val sample = Sample(wall, it.waves, Workloads.du(o), retainedHeapMb())
        System.err.println(f"[perfbench] iteration $attempted: wall=$wall%.3f s " +
          f"retained=${sample.heapMb}%.1f MB waves=${it.waves.map(w => f"$w%.2f").mkString(",")}")
        Some((sample, it))
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] iteration failed: $e")
          e.printStackTrace()
          None
      }
    }

    val budget = if (trace) seconds / 2 else seconds
    val t0 = System.nanoTime()
    val measured = scala.collection.mutable.ArrayBuffer.empty[Sample]
    while (measured.size < MinIterations && attempted < MinIterations + 2 ||
        (System.nanoTime() - t0) / 1e9 < budget) {
      val o = freshOut()
      iteration(o, None).foreach(measured += _._1)
      deleteTree(o)
    }

    val walls = measured.map(_.wall).toSeq
    val waves = measured.flatMap(_.waves).toSeq
    val wallP50 = median(walls)
    val records = in.records.toDouble
    println(s"[perfbench] workload=${wl.name} seed=$seed iterations=${walls.size} " +
      s"records=${in.records} input_bytes=${in.bytes} " +
      in.props.toSeq.sortBy(_._1).map { case (k, v) => f"$k=$v%.4f" }.mkString(" "))
    def tailLine(n: String, xs: Seq[Double]): String =
      tail(xs).fold(s"$n=n/a (${xs.size} samples, tail needs >= 11)") { case (p, v) =>
        f"$n=$v%.4f s (p$p, ${xs.size} samples)" }
    println(s"[perfbench] ${tailLine("wall_tail_s", walls)} ${tailLine("wave_tail_s", waves)} " +
      f"failed_ops_ratio=${failed.toDouble / math.max(1, attempted)}%.4f (ratio)")

    val endToEnd = Seq(
      ("wall_p50_s", wallP50, "s"),
      ("records_per_s", records / wallP50, "records/s"),
      ("wave_p50_s", median(waves), "s"),
      ("setup_s", setupS, "s"),
      // over a fixed number of iterations: the engine's retained state
      // grows with the jobs run, so a time-bound count would blur it
      ("retained_heap_mb", median(measured.take(MinIterations).map(_.heapMb).toSeq), "MB"),
      ("bytes_written_per_input_byte", median(measured.map(_.written.toDouble).toSeq) / in.bytes, "ratio"))
    endToEnd.foreach { case (n, v, u) => println(f"[perfbench] $n%-30s $v%14.4f $u") }

    val metrics: Seq[(String, Double, String)] =
      if (!trace) endToEnd
      else {
        val tracer = new Tracer(spark)
        tracer.start()
        val o = freshOut()
        iteration(o, Some(tracer)).foreach { case (s, it) =>
          // against the latest untraced iteration, the equally warm one
          walls.lastOption.foreach(w => tracer.extra("workload.tracing_overhead_s", s.wall - w))
          wl.extras(o, it).foreach { case (k, v) => tracer.extra(k, v) }
        }
        deleteTree(o)
        val lo = freshOut()
        attempted += 1
        val layerProblems =
          try wl.layers(spark, in, lo, tracer)
          catch { case e: Exception => e.printStackTrace(); Seq(s"layer pass failed: $e") }
        layerProblems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
        if (layerProblems.nonEmpty) failed += 1
        deleteTree(lo)
        tracer.stop()
        val rep = tracer.report() + ("GraftSession.setup.self_s" -> median(sessions))
        tracer.jobLog().foreach(l => System.err.println(l))
        PerLayer.map { n =>
          val unit = n.split('.').last match {
            case "jobs" | "tasks" | "failed" | "malformed" | "candidate_pairs" => "count"
            case "shuffle_write_mb" | "spill_mb" => "MB"
            case "state_bytes" => "bytes"
            case "useful_ratio" => "ratio"
            case _ => "s"
          }
          (n, rep.getOrElse(n, 0.0), unit)
        }
      }
    spark.stop()

    val body = Seq(
      "correct" -> (failed == 0 && attempted > 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Seq("value" -> v, "unit" -> u) })
    println(json(body))
  }
}
