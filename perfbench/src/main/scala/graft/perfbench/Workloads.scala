package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftConfig, IngestCli, MedallionPipeline, UnifyPipeline}
import graft.operators.{Dedup, Quality, Video}
import graft.sources.CorpusIO
import graft.warehouse.Warehouse

/** One workload: seeded inputs, the timed call into the engine's public
  * entry points, the off-clock output checks, and (traced runs only) the
  * per-layer calls over staged inputs. */
trait Workload {
  def name: String
  /** Write the seed's inputs under `dir` (plain files, no Spark). */
  def prepare(dir: File, seed: Long): Inputs
  /** Spark-side staging of the inputs, off the clock. */
  def stage(spark: SparkSession, in: Inputs): Unit = ()
  /** The timed iteration. `t` wraps layer calls in spans on traced runs. */
  def iterate(spark: SparkSession, in: Inputs, out: File, t: Option[Tracer]): Iter
  /** Output checks, off the clock; returns the failures. */
  def check(spark: SparkSession, in: Inputs, out: File, it: Iter): Seq[String]
  /** Traced runs: each remaining layer as its own span over staged input;
    * returns the failures of the checks made on the way. */
  def layers(spark: SparkSession, in: Inputs, out: File, t: Tracer): Seq[String]
  /** Traced runs: layer counts read after the traced iteration. */
  def extras(out: File, it: Iter): Map[String, Double] = it.extras
}

/** Input properties printed with every run's results. */
trait Inputs {
  def records: Long
  def bytes: Long
  def props: Map[String, Double]
}

/** One iteration's result: the latency of each wave (batch workloads: of
  * the one pipeline call) and what the checks need. */
final case class Iter(waves: Seq[Double], detail: Any = null,
    extras: Map[String, Double] = Map.empty)

object Workloads {
  val all: Seq[Workload] = Seq(MedallionFuzzy, IngestVideoWaves)

  private val cfg = GraftConfig()

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def failures(checks: (String, Boolean)*): Seq[String] =
    checks.collect { case (msg, false) => msg }

  private def ids(df: DataFrame): Array[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).sorted

  private def within[T](t: Option[Tracer], span: String,
      classifier: Option[Tracer.Classifier] = None)(f: => T): T =
    t.fold(f)(_.span(span, classifier)(f))

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum
    else if (f.isFile) f.length() else 0L

  private def opt(r: Row, c: String): Option[String] =
    if (r.schema.fieldNames.contains(c)) Option(r.getAs[String](c)) else None

  /** The engine's dedup key over canonical (normalized) text. */
  private def key(r: Row): String =
    Seq(opt(r, "es"), opt(r, "nah"), opt(r, "myn")).map(_.getOrElse("").toLowerCase).mkString("|")

  final case class CorpusIn(c: Gen.Corpus) extends Inputs {
    def records: Long = c.records
    def bytes: Long = c.bytes
    def props: Map[String, Double] = c.shares
  }

  // ------------------------------------------------------------------
  /** `MedallionPipeline.run` with its warehouse tracker: bronze → silver →
    * diamond (exact dedup-best + banded MinHash) → gold → quality gate,
    * parquet at every stage boundary, lineage and quality rows in the
    * metadata warehouse. */
  object MedallionFuzzy extends Workload {
    val name = "medallion_fuzzy"
    val Records = 4000
    private val suite = Quality.corpusSuite(minVolume = 1L)
    private var firstDigest: Option[Int] = None

    def prepare(dir: File, seed: Long): Inputs = CorpusIn(Gen.corpus(dir, seed, Records))

    def iterate(spark: SparkSession, in: Inputs, out: File, t: Option[Tracer]): Iter = {
      val c = in.asInstanceOf[CorpusIn].c
      val globs = Seq(c.silverGlob, c.diamondGlob)
      val base = new File(out, "medallion").getPath
      val tracker = new Warehouse.MetricsTracker(spark, new File(out, "warehouse").getPath, "medallion")
      val ((stages, _), wave) = timed(t match {
        case None =>
          MedallionPipeline.run(spark, globs, base, cfg.seed, cfg.fuzzyThreshold, suite, Some(tracker))
        case Some(tr) =>
          // the calls MedallionPipeline.run makes, one span each
          val b = tr.span("Medallion.bronze")(MedallionPipeline.bronze(spark, globs, s"$base/bronze"))
          val s = tr.span("Medallion.silver")(
            MedallionPipeline.silver(spark, b.path, s"$base/silver").copy(in = b.out))
          val d = tr.span("Medallion.diamond")(
            MedallionPipeline.diamond(spark, s.path, s"$base/diamond", cfg.fuzzyThreshold).copy(in = s.out))
          val g = tr.span("Medallion.gold")(
            MedallionPipeline.gold(spark, d.path, s"$base/gold", cfg.seed).copy(in = d.out))
          val results = tr.span("Quality.run")(Quality.run(spark.read.parquet(g.path), suite))
          val stages = Seq(b, s, d, g)
          tr.span("Warehouse.track") {
            stages.foreach(st => tracker.lineage(st.path, "parquet", st.stage, st.in, st.out))
            results.foreach(r => tracker.metric(r.name, r.observed, "rate"))
          }
          (stages, results)
      })
      within(t, "Warehouse.track")(tracker.complete(c.records, stages.last.out))
      Iter(Seq(wave))
    }

    def check(spark: SparkSession, in: Inputs, out: File, it: Iter): Seq[String] = {
      val c = in.asInstanceOf[CorpusIn].c
      val base = new File(out, "medallion").getPath
      val gold = spark.read.parquet(s"$base/gold").collect()
      val keys = gold.map(key).toSet
      val silver = spark.read.parquet(s"$base/silver").collect().map(key).toSet
      val plain = c.keepKeys -- c.nearPairs.flatMap { case (a, b) => Seq(a, b) }
      val digest = gold.map(r => key(r) + "#" + r.getAs[String]("split")).sorted.toSeq.hashCode
      if (firstDigest.isEmpty) firstDigest = Some(digest)
      failures(
        s"gold has ${gold.length} rows for ${keys.size} keys" -> (gold.length == keys.size),
        "a planted record without near-dups is missing from gold" -> plain.subsetOf(keys),
        "a planted near-dup pair did not leave exactly one row" ->
          c.nearPairs.forall { case (a, b) => keys(a) ^ keys(b) },
        s"gold has ${keys.size} rows, planted ${plain.size + c.nearPairs.size}" ->
          (keys.size == plain.size + c.nearPairs.size),
        "gold is not a subset of silver" -> keys.subsetOf(silver),
        "gold digest differs between iterations of one seed" -> firstDigest.contains(digest))
    }

    /** The layers of the `UnifyCli` path over the same corpus (parse,
      * normalize, exact dedup, split + JSONL write), then banded MinHash
      * alone over exact-deduped silver. */
    def layers(spark: SparkSession, in: Inputs, out: File, t: Tracer): Seq[String] = {
      val c = in.asInstanceOf[CorpusIn].c
      val globs = Seq("silver" -> c.silverGlob, "diamond" -> c.diamondGlob)
      def staged(name: String, df: DataFrame): DataFrame = {
        val p = new File(out, s"stage-$name").getPath
        df.write.mode("overwrite").parquet(p)
        spark.read.parquet(p)
      }
      t.span("CorpusIO.read_jsonl") {
        globs.foreach { case (layer, g) => noop(CorpusIO.readJsonl(spark, Seq(g), layer)) }
      }
      val files = t.span("CorpusIO.file_stats") {
        globs.flatMap { case (_, g) => CorpusIO.jsonlFileStats(spark, Seq(g)).collect() }
      }
      val malformed = files.map(_.getAs[Long]("malformed")).sum
      t.extra("CorpusIO.read_jsonl.malformed", malformed.toDouble)
      val parsed = globs.map { case (layer, g) =>
        staged(s"parsed-$layer", CorpusIO.readJsonl(spark, Seq(g), layer)) }
      t.span("text.normalize")(noop(UnifyPipeline.validRecords(parsed)))
      val valid = staged("valid", UnifyPipeline.validRecords(parsed))
      t.span("Dedup.exact")(noop(UnifyPipeline.dedupBest(valid)))
      val deduped = staged("deduped", UnifyPipeline.dedupBest(valid))
      val goldDir = new File(out, "unify-gold").getPath
      t.span("Split.assign") {
        CorpusIO.writeJsonl(UnifyPipeline.withSplit(deduped, cfg.seed, cfg.normalizedRatios),
          goldDir, partitionByCols = Seq("split"))
      }
      val gold = spark.read.json(goldDir).collect()
      val goldKeys = gold.map(key)
      val macrons = (s: String) => s.count("āēīōūĀĒĪŌŪ".contains(_))
      val unifyProblems = failures(
        s"malformed ${malformed} != planted ${c.malformedLines}" -> (malformed == c.malformedLines),
        "an exact-dup group did not leave exactly one gold row" ->
          (goldKeys.length == goldKeys.distinct.length && goldKeys.toSet == c.keepKeys),
        "a gold row is outside train/validation/test" ->
          gold.forall(r => Set("train", "validation", "test")(r.getAs[String]("split"))),
        "macrons were lost" -> (gold.flatMap(opt(_, "nah")).map(macrons).sum ==
          c.keepKeys.toSeq.map(k => macrons(k.split('|')(1))).sum))

      // exact-deduped valid records with the content id diamond assigns
      val exact = staged("exact", UnifyPipeline.dedupBest(valid)
        .withColumn("__rid", xxhash64(coalesce(col("es"), lit("")),
          coalesce(col("nah"), lit("")), coalesce(col("myn"), lit("")))))
      val (kept, pairs) = t.pairsSpan("Dedup.minhash")(Dedup.minhashDedup(exact, "__rid",
        concat_ws(" ", col("es"), col("nah"), col("myn")), threshold = cfg.fuzzyThreshold).count())
      t.extra("Dedup.minhash.candidate_pairs", pairs.toDouble)
      t.extra("Dedup.minhash.useful_ratio",
        if (pairs > 0) (exact.count() - kept).toDouble / pairs else 0.0)
      unifyProblems
    }
  }

  // ------------------------------------------------------------------
  private def stateBytes(stateDir: File): Long =
    Option(stateDir.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && Seq("fsigs_", "tombstones").exists(f.getName.startsWith))
      .map(du).sum

  /** Text waves of the traced run's text-loop pass: ids rise across
    * waves; from the second wave on a third re-crawls earlier docs. */
  val TextWaves = 2
  val TextPerWave = 600
  val TextRecrawl = 0.3

  /** The `runVideo` loop: `initVideoState`, then one `ingestVideoWave`
    * per wave over `Video.syntheticCorpus` clips. */
  object IngestVideoWaves extends Workload {
    val name = "ingest_video_waves"
    val Waves = 2
    val PerWave = 600
    val Recrawl = 0.2
    private var expected: Option[Array[Long]] = None

    /** Wave i holds ids [base + i·PerWave, base + (i+1)·PerWave); from the
      * second wave on its last `Recrawl` share re-crawls earlier clips
      * (their content under the new, higher id). */
    final case class Plan(base: Long, recrawl: Seq[Seq[(Long, Long)]])

    final case class WavesInV(seed: Long, paths: Seq[String], records: Long, var bytes: Long,
        props: Map[String, Double], plan: Plan) extends Inputs

    def prepare(dir: File, seed: Long): Inputs = {
      val r = new java.util.SplittableRandom(seed)
      val base = (seed & 0xffffL) * 1000000L
      val nRe = (PerWave * Recrawl).toInt
      val recrawl = (0 until Waves).map { i =>
        if (i == 0) Seq.empty
        else (0 until nRe).map { k =>
          base + (i + 1L) * PerWave - nRe + k -> (base + r.nextLong(i.toLong * PerWave))
        }
      }
      dir.mkdirs()
      val paths = (0 until Waves).map(i => new File(dir, f"wave-$i%02d").getPath)
      val records = Waves.toLong * PerWave
      val freshIds = (0 until Waves).flatMap(i =>
        base + i.toLong * PerWave until base + (i + 1L) * PerWave - recrawl(i).size)
      WavesInV(seed, paths, records, 0L, Map(
        "recrawl_share" -> recrawl.map(_.size).sum.toDouble / records,
        "corrupt_clip_share" -> freshIds.count(_ % 97 == 0).toDouble / freshIds.size),
        Plan(base, recrawl))
    }

    override def stage(spark: SparkSession, in: Inputs): Unit = {
      import spark.implicits._
      val w = in.asInstanceOf[WavesInV]
      val p = w.plan
      w.paths.indices.foreach { i =>
        val lo = p.base + i.toLong * PerWave
        val fresh = Video.syntheticCorpus(
          spark.range(lo, lo + PerWave - p.recrawl(i).size).toDF("doc_id"), "doc_id")
        val pairs = p.recrawl(i).toDF("doc_id", "old_id")
        val again = Video.syntheticCorpus(pairs.select("old_id"), "old_id")
          .join(pairs, "old_id").select("doc_id", "content")
        fresh.unionByName(again).write.mode("overwrite").parquet(w.paths(i))
      }
      w.bytes = w.paths.map(p => du(new File(p))).sum
    }

    def iterate(spark: SparkSession, in: Inputs, out: File, t: Option[Tracer]): Iter = {
      val w = in.asInstanceOf[WavesInV]
      val st = IngestCli.initVideoState(spark, "perfbench_video", new File(out, "state").getPath)
      val reports = w.paths.indices.map { i =>
        timed(within(t, "IngestCli.video_wave", Some(videoWaveJobs))(
          IngestCli.ingestVideoWave(spark, st, spark.read.parquet(w.paths(i)), i)))
      }
      Iter(reports.map(_._2), st,
        Map("Video.decode.failed" -> reports.map(r => r._1.live - r._1.decoded).sum.toDouble))
    }

    override def extras(out: File, it: Iter): Map[String, Double] =
      it.extras + ("Incremental.state_bytes" -> stateBytes(new File(out, "state")).toDouble)

    def check(spark: SparkSession, in: Inputs, out: File, it: Iter): Seq[String] = {
      val w = in.asInstanceOf[WavesInV]
      val st = it.detail.asInstanceOf[IngestCli.VideoState]
      val gold = ids(spark.read.parquet(st.goldPath))
      // the inputs never change within a run: the batch side once
      val batch = expected.getOrElse {
        val b = ids(IngestCli.batchVideoEquivalent(spark.read.parquet(w.paths: _*)))
        expected = Some(b); b
      }
      failures(
        s"wave gold (${gold.length}) != batchVideoEquivalent (${batch.length})" -> gold.sameElements(batch),
        "no near-duplicate clip was dropped" -> (gold.length < w.records))
    }

    /** `Video.frameSignatures` alone over one staged wave, then the text
      * wave loop (`initState` + `ingestWave` per wave, the `runText` path)
      * over seeded text waves, for the text loop's layers. */
    def layers(spark: SparkSession, in: Inputs, out: File, t: Tracer): Seq[String] = {
      val w = in.asInstanceOf[WavesInV]
      t.span("Video.frame_signatures")(noop(
        Video.frameSignatures(spark.read.parquet(w.paths.head), "doc_id", col("content"))))

      val text = Gen.textWaves(new File(out, "text-waves"), w.seed, TextWaves, TextPerWave, TextRecrawl)
      val parquet = text.map { p =>
        spark.read.schema("doc_id LONG, text STRING").json(p).write.parquet(p + ".parquet")
        p + ".parquet"
      }
      val st = IngestCli.initState(spark, "perfbench_text", new File(out, "text-state").getPath)
      parquet.zipWithIndex.foreach { case (p, i) =>
        t.span("IngestCli.wave", Some(textWaveJobs))(
          IngestCli.ingestWave(spark, st, spark.read.parquet(p), i, cfg))
      }
      val gold = ids(spark.read.parquet(st.goldPath))
      val batch = ids(IngestCli.batchEquivalent(spark.read.parquet(parquet: _*), cfg))
      failures(s"text wave gold (${gold.length}) != batchEquivalent (${batch.length})" ->
        gold.sameElements(batch))
    }
  }

  private def site(j: Tracer.Job): (String, String) = j.callSite.split(" at ", 2) match {
    case Array(m, at) => (m, at.takeWhile(_ != ':'))
    case _ => ("", "")
  }

  /** Classifies a text wave's jobs by the call site of their SQL
    * execution. The probes are lazy, so their jobs are the wave loop's
    * own actions over them (counts and checkpoints, whose shuffle stages
    * AQE runs up front): before the first in-wave MinHash job they
    * materialize the exact probe, after it the fuzzy probe. From the gold
    * write on, every job serves the gold append and its manifest. The
    * audit aggregation stays in the wave's own time. */
  val textWaveJobs: Tracer.Classifier = jobs => {
    val exact = "Incremental.exact_probe"
    val fuzzy = "Incremental.fuzzy_probe"
    val gold = "IngestCli.gold_append"
    var phase = exact
    jobs.map { j =>
      val (method, file) = site(j)
      file match {
        case "Dedup.scala" => if (phase == exact) phase = fuzzy; Some(fuzzy)
        case "Incremental.scala" => Some("Incremental.append")
        case "IngestCli.scala" if method == "parquet" => phase = gold; Some(gold)
        case _ if phase == gold => Some(gold)
        case "IngestCli.scala" if method == "count" || method == "localCheckpoint" => Some(phase)
        case _ => None
      }
    }
  }

  /** Classifies a video wave's jobs by the descriptions the loop sets.
    * Unlabelled jobs take the phase they run in: the decode checkpoint
    * before "decode + count", the Hamming probe (its checkpoint's shuffle
    * stages and state reads) between it and "state append". */
  val videoWaveJobs: Tracer.Classifier = jobs => {
    var phase: Option[String] = Some("Video.decode")
    jobs.map { j =>
      val d = j.description
      val label =
        if (d.endsWith("decode + count")) Some("Video.decode")
        else if (d.endsWith("drop ids")) Some("Incremental.hamming_probe")
        else if (d.endsWith("state append")) Some("Incremental.append")
        else if (d.endsWith("gold append") || d.endsWith("gold count")) Some("IngestCli.gold_append")
        else if (d.endsWith("audit counts")) None
        else if (Set("IngestCli.scala", "Incremental.scala")(site(j)._2)) phase
        else None
      if (label.contains("Video.decode")) phase = Some("Incremental.hamming_probe")
      else if (label.exists(_ != "Incremental.hamming_probe")) phase = None
      label
    }
  }
}
