package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Profiling / statistics operators (SURVEY §2.5, A1-A12).
  *
  * Design rule: each stats surface is ONE aggregation pass. The
  * reference re-scans the frame per metric
  * (/root/reference/src/scala_examples/DataQuality.scala:39-114 calls
  * `df.count()` per check; benchmark/generate_stats.py walks pandas
  * once per column) — at 100 TB every extra pass is a full re-read, so
  * everything here composes into a single `agg(...)`.
  */
object Stats {

  /** A2/A8 — null count + rate per column, single pass, one output row
    * per column (unpivoted for stable schema). */
  def nullStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
        count(lit(1)).as(s"__total_$c"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      struct(lit(c).as("column_name"),
        col(s"__nulls_$c").as("null_count"),
        round(col(s"__nulls_$c") / col(s"__total_$c"), 6).as("null_rate"))
    }
    wide.select(explode(array(stacked: _*)).as("s")).select("s.*")
  }

  /** A4 — length distribution stats over a string column. */
  def lengthStats(df: DataFrame, c: Column, groupBy: Seq[Column] = Nil): DataFrame = {
    val l = length(c)
    // exact interpolating median (matches SQL quantile_cont semantics);
    // at 100 TB swap for percentile_approx — the approximate sketch
    // merges map-side instead of shuffling every length value.
    // mean as exact-int-sum / n: bit-identical across engines, no
    // rounding boundary (rounding an avg of integers can land exactly
    // on .xxxx5 where decimal-vs-binary rounding rules disagree)
    val aggs = Seq(
      count(c).as("n"),
      (sum(l).cast("double") / count(c)).as("mean_len"),
      round(percentile(l, lit(0.5)), 4).as("median_len"),
      min(l).as("min_len"),
      max(l).as("max_len"),
      round(stddev(l), 4).as("std_len"))
    if (groupBy.isEmpty) df.agg(aggs.head, aggs.tail: _*)
    else df.groupBy(groupBy: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** A5 — type-token ratio: distinct tokens / total tokens. Exact by
    * default; `approximate=true` swaps in HLL `approx_count_distinct`
    * (the right call at 100 TB where exact distinct is a full shuffle
    * of every token). */
  def typeTokenRatio(df: DataFrame, textCol: Column, approximate: Boolean = false): DataFrame = {
    val tok = df.select(explode(split(trim(textCol), "\\s+")).as("token"))
      .filter(col("token") =!= "")
    val distinctCount = if (approximate) approx_count_distinct(col("token")) else count_distinct(col("token"))
    tok.agg(
      count(lit(1)).as("total_tokens"),
      distinctCount.as("distinct_tokens"),
      round(distinctCount.cast("double") / count(lit(1)), 6).as("ttr"))
  }

  /** A6 — per-character occurrence counting via translate-delete (no
    * explode): count of chars from `chars` present in `c`. */
  def charCount(c: Column, chars: String): Column =
    length(c) - length(translate(c, chars, ""))

  /** Per-document word-repetition profile — the Gopher-style
    * repetition filters of LLM data curation: documents dominated by a
    * few repeated words (boilerplate, keyword stuffing, templated
    * junk) are low-value training data regardless of their length or
    * charset validity.
    *
    * Output per doc: `n_words`, `distinct_words`, `top_word_frac`
    * (most frequent word's share of all words, ties irrelevant — the
    * max COUNT is unique even when the argmax word isn't), and the
    * per-document type-token ratio `ttr`.
    *
    * Scale shape: one explode pre-filtered of empties, one
    * (id, word) partial-aggregated count, one per-doc aggregation —
    * both aggregations map-side-combine, nothing driver-side.
    * Null/empty texts are dropped (no words → no profile row), same
    * as the SQL formulation. */
  /** Per-document duplicated word-n-gram profile — the other half of
    * the Gopher repetition rules ([[wordRepetition]] covers the
    * single-word share): templated/spun text repeats whole PHRASES, so
    * curation thresholds the fraction of text sitting inside repeated
    * n-grams.
    *
    * Char weighting: each n-gram occurrence weighs `length(gram)`
    * characters; `dup_gram_char_frac` = chars in grams occurring >1×
    * in the doc / chars in all grams, `top_gram_char_frac` = the
    * heaviest single gram's share (max over count×length — a scalar
    * max, so no argmax tie ambiguity). Docs with fewer than n words
    * produce no grams and no row — same as the SQL formulation.
    *
    * Scale shape: one explode (n·words rows), one (id, gram)
    * partial-aggregated count, one per-doc aggregation; the ratios are
    * integer-sum divisions so the hash oracle can't float-flake. */
  def dupNgramProfile(df: DataFrame, idCol: String, textCol: Column, n: Int = 2): DataFrame = {
    require(n >= 1, "n must be >= 1")
    // native kernel (one codegen call per row) + a spread scan: the
    // gram generation must never run on the single task a one-row-
    // group parquet file would otherwise plan
    val exploded = Dedup.spreadWide(df.select(col(idCol), textCol.as("__t")))
      .select(col(idCol), explode(Dedup.wordNGrams(col("__t"), n)).as("__g"))
    val counted = exploded.groupBy(col(idCol), col("__g"))
      .agg(count(lit(1)).as("__c"))
    val w = col("__c") * length(col("__g")) // chars carried by this gram's occurrences
    counted.groupBy(col(idCol)).agg(
      sum(col("__c")).as("n_grams"),
      count(lit(1)).as("distinct_grams"),
      round(sum(when(col("__c") > 1, w).otherwise(0L)).cast("double") / sum(w), 6)
        .as("dup_gram_char_frac"),
      round(max(w).cast("double") / sum(w), 6).as("top_gram_char_frac"))
  }

  /** Per-document unigram surprisal — the scalable stand-in for the
    * LM-perplexity quality gate of CCNet-style curation: score every
    * word by −log₂ of its corpus frequency and report each document's
    * mean. Prose written in the corpus's own register scores near the
    * corpus mean; keyword stuffing (low surprisal — few hot words) and
    * alphabet soup / wrong-language text (high surprisal — all rare
    * types) land in the tails, so curation thresholds BOTH sides.
    *
    * Two passes by construction (the model IS the corpus): one
    * frequency aggregation, then a words⋈freq hash join + per-doc
    * rollup. The per-doc sum is rounded to 4 places BEFORE the mean —
    * log₂ is not IEEE-exact across engines and double summation order
    * wobbles the last ulp, so the oracle-compared value sits far above
    * both noise floors. */
  def unigramSurprisal(df: DataFrame, idCol: String, textCol: Column): DataFrame = {
    val words = Dedup.spreadWide(df.select(col(idCol), textCol.as("__t")))
      .select(col(idCol), explode(split(lower(trim(col("__t"))), "\\s+")).as("__w"))
      .filter(col("__w") =!= "")
    val freq = words.groupBy(col("__w")).agg(count(lit(1)).as("__f"))
    val total = freq.agg(sum(col("__f")).as("__tot"))
    // same cross-engine-stable arithmetic as [[bigramSurprisal]]:
    // per-term round to 4 places, exact integer sum, half-up mean in
    // integer space (terms are non-negative: f <= tot)
    words.join(freq, Seq("__w")).crossJoin(broadcast(total))
      .select(col(idCol),
        round(round(-log2(col("__f") / col("__tot")), 4) * 10000, 0)
          .cast("long").as("__k"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("__k")).as("__sk"))
      .select(col(idCol), col("n_words"),
        (expr("(__sk * 200 + n_words) div (n_words * 2)") / lit(1000000.0))
          .as("mean_surprisal"))
  }

  /** Per-column profile — the dataset-card table (per column:
    * non-null count, null rate, distinct count, min/max), unpivoted
    * to one row per column for a stable schema at any column list.
    * ONE aggregation pass over the frame regardless of column count
    * (the reference's generate_stats.py walks the frame once per
    * column). `approximate = true` swaps exact distinct for HLL
    * `approx_count_distinct` — at 100 TB exact distinct per column is
    * a full shuffle of every value; the sketch merges map-side.
    * Min/max are cast to string so heterogeneous column types share
    * one output schema. */
  def columnProfile(df: DataFrame, cols: Seq[String],
      approximate: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "at least one column")
    val aggs = cols.flatMap { c =>
      val d = if (approximate) approx_count_distinct(col(c)) else count_distinct(col(c))
      Seq(
        count(col(c)).as(s"__nn_$c"),
        count(lit(1)).as(s"__t_$c"),
        d.as(s"__d_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      struct(lit(c).as("column_name"),
        col(s"__nn_$c").as("n_non_null"),
        round((col(s"__t_$c") - col(s"__nn_$c")) / col(s"__t_$c"), 6).as("null_rate"),
        col(s"__d_$c").as("n_distinct"),
        col(s"__min_$c").as("min_value"),
        col(s"__max_$c").as("max_value"))
    }
    wide.select(explode(array(stacked: _*)).as("s")).select("s.*")
  }

  /** Data-mixture card — the per-stratum composition report every
    * training-mixture decision reads (and the input
    * [[graft.operators.Split.temperatureSample]] reweights): per
    * stratum, document count, total and mean cost (tokens/chars), and
    * each stratum's SHARE of corpus docs and corpus cost. One
    * map-side-combined aggregation over the corpus + a broadcast of
    * the single-row totals; shares are integer-ratio doubles
    * (hash-stable). */
  def mixtureReport(df: DataFrame, strata: Seq[Column], cost: Column): DataFrame = {
    require(strata.nonEmpty, "at least one stratum column")
    val g = df.groupBy(strata: _*).agg(
      count(lit(1)).as("docs"),
      sum(cost).as("total_cost"),
      (sum(cost).cast("double") / count(lit(1))).as("mean_cost"))
    val totals = g.agg(sum(col("docs")).as("__td"), sum(col("total_cost")).as("__tc"))
    g.crossJoin(broadcast(totals))
      .withColumn("doc_share", round(col("docs") / col("__td"), 6))
      .withColumn("cost_share", round(col("total_cost") / col("__tc"), 6))
      .drop("__td", "__tc")
  }

  /** Bigram (conditional) surprisal — the fluency upgrade of
    * [[unigramSurprisal]]: each bigram w₁w₂ scores
    * −log₂(f(w₁w₂)/f(w₁)), i.e. how predictable w₂ is GIVEN w₁ under
    * the corpus's own bigram model. Unigram surprisal can't see word
    * salad built from common words ("the of and is the") — every word
    * is cheap but every TRANSITION is rare, so the conditional score
    * flags it; stitched/templated text scores low. Docs with < 2
    * words have no bigrams and no row.
    *
    * Same shape as [[unigramSurprisal]] plus one more
    * vocabulary-sized aggregation: bigram freq + unigram freq, two
    * hash joins on the gram stream, per-doc rollup with the
    * round-before-mean guard. The native [[graft.operators.Dedup.wordNGrams]]
    * kernel emits the bigram stream in one codegen call. */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: Column): DataFrame = {
    val bigrams = graft.operators.Dedup.spreadWide(df.select(col(idCol), textCol.as("__t")))
      .select(col(idCol), explode(graft.operators.Dedup.wordNGrams(col("__t"), 2)).as("__bg"))
    val words = df.select(explode(graft.operators.Dedup.wordNGrams(textCol, 1)).as("__w"))
    val f2 = bigrams.groupBy(col("__bg")).agg(count(lit(1)).as("__f2"))
    val f1 = words.groupBy(col("__w")).agg(count(lit(1)).as("__f1"))
    bigrams.join(f2, Seq("__bg"))
      .withColumn("__w1", substring_index(col("__bg"), " ", 1))
      .join(f1, col("__w1") === col("__w"))
      // per-term surprisal rounded to 4 places, then INTEGER-ized
      // (×10⁴) so the per-doc sum is an exact integer on any engine —
      // a raw double sum is partition-order-dependent, and rounding
      // it afterwards flips at .00005 boundaries. The MEAN's own
      // half-up rounding then happens in INTEGER space too
      // ((200s + n) div 2n — exact): a sum landing exactly on a
      // half-microunit otherwise rounds differently per engine
      // (BigDecimal reads the double's full expansion, C rounds the
      // halfway product up — one sf0.001 doc hit precisely this).
      .select(col(idCol),
        round(round(-log2(col("__f2") / col("__f1")), 4) * 10000, 0)
          .cast("long").as("__k"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__k")).as("__sk"))
      .select(col(idCol), col("n_bigrams"),
        (expr("(__sk * 200 + n_bigrams) div (n_bigrams * 2)") / lit(1000000.0))
          .as("mean_surprisal"))
  }

  /** DSIR-style importance weighting (unigram flavor of "Data
    * Selection for Language Models via Importance Resampling"): score
    * every raw-corpus document by the mean log-likelihood ratio of its
    * words under a TARGET-domain unigram model vs the raw-corpus
    * model. Positive = reads like the target domain (select it);
    * negative = reads like the raw crawl. Both models are add-one
    * smoothed over the shared vocabulary so target-unseen words score
    * finitely; thresholding/top-k on `importance` is the selection
    * step, or feed it to weighted sampling for true resampling.
    *
    * Same two-pass shape as [[unigramSurprisal]] (the models ARE the
    * corpora): two frequency aggregations merged into one dictionary,
    * then a words⋈dictionary hash join + per-doc rollup. The per-doc
    * sum is rounded to 4 places before the mean — log₂ isn't
    * IEEE-exact across engines. At 100 TB the dictionary is
    * vocabulary-sized (≪ corpus); both joins hash on the word. */
  def importanceWeight(raw: DataFrame, idCol: String, textCol: Column,
      target: DataFrame, targetTextCol: Column): DataFrame = {
    val words = graft.operators.Dedup.spreadWide(raw.select(col(idCol), textCol.as("__t")))
      .select(col(idCol), explode(split(lower(trim(col("__t"))), "\\s+")).as("__w"))
      .filter(col("__w") =!= "")
    val twords = target.select(explode(split(lower(trim(targetTextCol)), "\\s+")).as("__w"))
      .filter(col("__w") =!= "")
    val fr = words.groupBy(col("__w")).agg(count(lit(1)).as("__fr"))
    val ft = twords.groupBy(col("__w")).agg(count(lit(1)).as("__ft"))
    val dict = fr.join(ft, Seq("__w"), "full_outer")
      .select(col("__w"),
        coalesce(col("__fr"), lit(0L)).as("__fr"),
        coalesce(col("__ft"), lit(0L)).as("__ft"))
    val totals = dict.agg(
      sum(col("__fr")).cast("double").as("__tr"),
      sum(col("__ft")).cast("double").as("__tt"),
      count(lit(1)).cast("double").as("__v"))
    val scored = dict.crossJoin(broadcast(totals))
      .select(col("__w"), log2(
        ((col("__ft") + 1) / (col("__tt") + col("__v"))) /
          ((col("__fr") + 1) / (col("__tr") + col("__v")))).as("__lr"))
    // integer-space mean as in [[bigramSurprisal]], with a sign split:
    // log-ratios can be NEGATIVE, and half-up integer division differs
    // across engines there (Spark `div` truncates toward zero, DuckDB
    // `//` floors) — so divide on the absolute value and re-sign
    words.join(scored, Seq("__w"))
      .select(col(idCol),
        round(round(col("__lr"), 4) * 10000, 0).cast("long").as("__k"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("__k")).as("__sk"))
      .select(col(idCol), col("n_words"),
        (expr("""CASE WHEN __sk >= 0
                 THEN (__sk * 200 + n_words) div (n_words * 2)
                 ELSE -((-__sk * 200 + n_words) div (n_words * 2)) END""")
          / lit(1000000.0)).as("importance"))
  }

  /** Vocabulary coverage report — the tokenizer-sizing question: what
    * share of the corpus token stream does the top-k vocabulary cover?
    * One row per top-k token (deterministic tie-break on the token)
    * with its rank and the cumulative coverage share against the FULL
    * token count (not just the top-k mass).
    *
    * Scale shape: one explode + map-side-combined frequency count, one
    * single-row total, then rank/cumsum windows run AFTER `limit(k)` —
    * the unpartitioned window sees k rows, never the vocabulary. */
  def vocabCoverage(df: DataFrame, textCol: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val words = df.select(explode(split(lower(trim(textCol)), "\\s+")).as("token"))
      .filter(col("token") =!= "")
    val freq = words.groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val total = freq.agg(sum(col("freq")).as("__tot"))
    val ord = org.apache.spark.sql.expressions.Window
      .orderBy(desc("freq"), asc("token"))
    val cum = ord.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    freq.orderBy(desc("freq"), asc("token")).limit(k)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(ord))
      .withColumn("cum_share",
        round(sum(col("freq")).over(cum).cast("double") / col("__tot"), 6))
      .select(col("rank"), col("token"), col("freq"), col("cum_share"))
  }

  /** Interpolating quantiles (SQL `quantile_cont` semantics) of a
    * numeric column, optionally per group — unpivoted to one
    * (group, quantile, value) row each for a stable schema at any
    * quantile list.
    *
    * `approx = false` (default, what the q71 oracle gates) is EXACT —
    * but Spark's exact `percentile` buffers every value of a group in
    * the aggregation state, so its contract is bounded-group-size
    * reporting, not 100 TB columns. `approx = true` switches to
    * `percentile_approx` (Greenwald–Khanna sketch: bounded state,
    * map-side mergeable, error ≤ 1/accuracy of rank) with the SAME
    * output contract — the 100 TB profile path. */
  def quantileProfile(df: DataFrame, c: Column, qs: Seq[Double],
      groupBy: Seq[Column] = Nil, approx: Boolean = false,
      accuracy: Int = 10000): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1), "quantiles must be in [0,1]")
    require(accuracy > 0, "accuracy must be positive")
    val pct =
      if (approx) percentile_approx(c, array(qs.map(lit): _*), lit(accuracy)).as("__qv")
      else percentile(c, array(qs.map(lit): _*)).as("__qv")
    val agged =
      if (groupBy.isEmpty) df.agg(pct)
      else df.groupBy(groupBy: _*).agg(pct)
    // cast before rounding: exact percentile emits double, approx
    // emits the input's own type — the profile schema must not depend
    // on the mode
    val pairs = qs.zipWithIndex.map { case (q, i) =>
      struct(lit(q).as("quantile"),
        round(col("__qv").getItem(i).cast("double"), 4).as("value"))
    }
    val groupCols = agged.columns.toIndexedSeq.init.map(col)
    agged.select(groupCols :+ explode(array(pairs: _*)).as("__s"): _*)
      .select(groupCols :+ col("__s.quantile") :+ col("__s.value"): _*)
  }

  def wordRepetition(df: DataFrame, idCol: String, textCol: Column): DataFrame = {
    val words = df.select(col(idCol),
        explode(split(lower(trim(textCol)), "\\s+")).as("__w"))
      .filter(col("__w") =!= "")
    words.groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(
        sum(col("__c")).as("n_words"),
        count(lit(1)).as("distinct_words"),
        round(max(col("__c")).cast("double") / sum(col("__c")), 6).as("top_word_frac"),
        round(count(lit(1)).cast("double") / sum(col("__c")), 6).as("ttr"))
  }

  /** Per-document n-gram NOVELTY under the corpus's id scan order:
    * each distinct word n-gram is "owned" by the smallest doc_id that
    * contains it; a document's novelty is the fraction of its distinct
    * grams it owns. High-novelty documents contribute content the
    * scan has not seen before; near-zero novelty marks documents whose
    * every phrase already exists earlier in the corpus — the
    * data-valuation signal behind dedup-aware selection and
    * incremental-crawl triage (what did this snapshot actually add?),
    * one level finer than [[snapshotDiff]]'s whole-document verdict.
    *
    * Scale shape: grams are DISTINCT per document — array_distinct
    * before the explode, then a (id, digest)-level distinct so
    * duplicate-id input rows still count each gram once — keyed by
    * the 128-bit double-xxhash64 digest so no exchange carries gram
    * text. The min-owner aggregate reads the RAW gram stream (the
    * optimizer correctly drops the redundant distinct under `min`, so
    * that side pays a map-side partial-min instead of a distinct
    * shuffle); the per-doc count reads the distinct output; owners
    * attach by broadcast when gram cardinality allows, SMJ otherwise.
    * Every exchange is on fixed-width keys, map-side combined.
    * Novelty is NULL for documents with fewer than `n` words (no
    * grams — the guarded division never runs under ANSI). */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: Column,
      n: Int = 4): DataFrame = {
    // distinct over (id, digest), not just array_distinct per row: an
    // input carrying the same id on several rows (duplicate-laden
    // crawl batches) must still count each gram once per DOCUMENT
    val grams = Dedup.spreadWide(df.select(col(idCol), textCol.as("__t")))
      .select(col(idCol),
        explode(array_distinct(Dedup.wordNGrams(col("__t"), n))).as("__g"))
      .select(col(idCol),
        xxhash64(col("__g")).as("__h1"), xxhash64(col("__g"), lit(1)).as("__h2"))
      .distinct()
    val owners = grams.groupBy("__h1", "__h2").agg(min(col(idCol)).as("__owner"))
    val per = grams.join(owners, Seq("__h1", "__h2"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__owner") === col(idCol), 1L).otherwise(0L)).as("n_novel"))
    df.select(col(idCol)).distinct()
      .join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_grams") > 0,
          round(col("n_novel") * lit(1.0) / col("n_grams"), 6)).as("novelty"))
  }

  /** Dataset snapshot diff — the release-audit primitive between two
    * corpus versions: per id, was the row `added`, `removed`,
    * `changed` (any content column differs, null-safely) or
    * `unchanged`. A training-data release note ("v2.1: +1.2M docs,
    * 40k edits, 300k removals") is `snapshotDiff(...).groupBy(change)`.
    *
    * Scale shape: each side collapses to (id, 128-bit content digest —
    * two independent xxhash64 seeds, the dedup-key discipline) in a
    * narrow map, so the full-outer join shuffles ~24-byte rows no
    * matter how wide the documents are; digest equality stands in for
    * column-wise comparison at the standard 2⁻¹²⁸ collision risk
    * (the DuckDB oracle for q108 compares raw columns instead —
    * gating that the digests decide identically). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      contentCols: Seq[String]): DataFrame = {
    val d = contentDigest(contentCols)
    classifyDiff(
      oldDf.select(col(idCol), d.as("__oh")),
      newDf.select(col(idCol), d.as("__nh")),
      idCol)
  }

  /** The 128-bit content digest behind [[snapshotDiff]], as a struct
    * of two independent xxhash64s — shared with
    * [[Incremental.writeSnapshotTable]] so persisted snapshot state
    * and a live diff can never disagree on what "same content" means.
    * Separator + null sentinel keep ("ab","c") vs ("a","bc") and
    * null vs "" from colliding in the concatenated digest input. */
  private[operators] def contentDigest(contentCols: Seq[String]): Column = {
    require(contentCols.nonEmpty, "contentCols must be non-empty")
    val key = concat_ws("\u0001",
      contentCols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    struct(xxhash64(key), xxhash64(key, lit(1)))
  }

  /** The added/removed/changed/unchanged classification over two
    * digest frames `(idCol, __oh)` / `(idCol, __nh)` — shared by the
    * in-memory and persisted-state diff paths. */
  private[operators] def classifyDiff(o: DataFrame, n: DataFrame,
      idCol: String): DataFrame =
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__oh").isNull, lit("added"))
          .when(col("__nh").isNull, lit("removed"))
          .when(col("__oh") =!= col("__nh"), lit("changed"))
          .otherwise(lit("unchanged")).as("change"))

  /** Population-stability-index (PSI) drift report between a REFERENCE
    * corpus snapshot and the CURRENT one (typically: last release vs
    * this crawl wave) over a list of bucketed features — the standing
    * monitoring question of a recurring ingestion loop: "did the crawl
    * change under us?". One row per (feature, bucket) with both
    * shares, the bucket's signed PSI contribution, and the feature's
    * total PSI (the alarm number: <0.1 stable, 0.1–0.25 drifting,
    * >0.25 shifted — the credit-scoring rule of thumb).
    *
    * PSI per bucket = (c' − r')·ln(c'/r') with both shares floored at
    * `eps`, so buckets present on one side only contribute a finite
    * spike instead of ±∞ — the floor IS the report's sensitivity limit
    * for appear/disappear events and is part of the contract.
    *
    * Scale shape: one map-side-combined count per side per feature
    * (the frames are scanned once each thanks to the tagged union),
    * then everything downstream — totals, shares, the feature-PSI
    * window — runs on (feature × bucket)-cardinality rows. Bucket
    * expressions must be bounded-cardinality (language, source, a
    * quantized length), the same contract as [[mixtureReport]]. */
  def driftReport(ref: DataFrame, cur: DataFrame,
      features: Seq[(String, Column)], eps: Double = 1e-6): DataFrame = {
    require(features.nonEmpty, "features must be non-empty")
    require(eps > 0, "eps must be positive")
    val tagged = features.map { case (name, bucket) =>
      ref.select(lit(name).as("feature"), bucketStr(bucket),
          lit(true).as("__is_ref"))
        .unionAll(cur.select(lit(name).as("feature"), bucketStr(bucket),
          lit(false).as("__is_ref")))
    }.reduce(_ unionAll _)
    psiFromTagged(tagged, eps)
  }

  /** Token-distribution drift between two corpus snapshots — the
    * vocabulary-level sibling of [[driftReport]]: the reference side's
    * top-`k` tokens become the bucket alphabet (deterministic
    * tie-break on the token, exactly [[vocabCoverage]]'s ranking), all
    * other tokens fold into the `<other>` bucket, and the PSI machinery
    * runs over the token STREAM (occurrences, not documents). Catches
    * what document-level features can't: a new boilerplate phrase, a
    * language-register shift, a tokenizer-breaking encoding change.
    *
    * Scale shape: the vocabulary is a top-k (bounded) broadcast; each
    * side's token stream is one explode + broadcast hash join — no
    * shuffle carries tokens, only the (k+1)-bucket counts do. */
  def tokenDrift(ref: DataFrame, cur: DataFrame, textCol: Column,
      k: Int, eps: Double = 1e-6): DataFrame = {
    require(k > 0, "k must be positive")
    require(eps > 0, "eps must be positive")
    def toks(df: DataFrame): DataFrame =
      df.select(explode(split(lower(trim(textCol)), "\\s+")).as("__w"))
        .filter(col("__w") =!= "")
    val refToks = toks(ref)
    val vocab = refToks.groupBy(col("__w")).agg(count(lit(1)).as("__f"))
      .orderBy(desc("__f"), asc("__w")).limit(k)
      .select(col("__w").as("__v"))
    def tag(tokens: DataFrame, isRef: Boolean): DataFrame =
      tokens.join(broadcast(vocab), col("__w") === col("__v"), "left")
        .select(lit("token").as("feature"),
          when(col("__v").isNull, lit("<other>")).otherwise(col("__w"))
            .as("bucket"),
          lit(isRef).as("__is_ref"))
    psiFromTagged(tag(refToks, isRef = true).unionAll(tag(toks(cur), isRef = false)), eps)
  }

  /** Null-safe string bucket — a null feature value is its own bucket,
    * not a dropped row (a crawl that suddenly emits null languages is
    * exactly the drift the report exists to catch). */
  private def bucketStr(bucket: Column): Column =
    coalesce(bucket.cast("string"), lit("<null>")).as("bucket")

  /** The shared PSI pipeline over a `(feature, bucket, __is_ref)`
    * tagged frame: count per side, per-feature totals (broadcast back
    * — feature-cardinality rows), eps-floored shares, per-bucket
    * contribution, per-feature total via a PARTITIONED window over
    * bucket-cardinality rows. */
  private def psiFromTagged(tagged: DataFrame, eps: Double): DataFrame = {
    val g = tagged.groupBy(col("feature"), col("bucket")).agg(
      count(when(col("__is_ref"), lit(1))).as("ref_n"),
      count(when(!col("__is_ref"), lit(1))).as("cur_n"))
    val t = g.groupBy(col("feature"))
      .agg(sum(col("ref_n")).as("__rt"), sum(col("cur_n")).as("__ct"))
    val shared = g.join(broadcast(t), Seq("feature"))
      .withColumn("__rs", when(col("__rt") === 0, lit(0.0))
        .otherwise(col("ref_n").cast("double") / col("__rt")))
      .withColumn("__cs", when(col("__ct") === 0, lit(0.0))
        .otherwise(col("cur_n").cast("double") / col("__ct")))
      .withColumn("__psi0",
        (greatest(col("__cs"), lit(eps)) - greatest(col("__rs"), lit(eps))) *
          log(greatest(col("__cs"), lit(eps)) / greatest(col("__rs"), lit(eps))))
    val byFeature = org.apache.spark.sql.expressions.Window
      .partitionBy(col("feature"))
    shared.select(col("feature"), col("bucket"), col("ref_n"), col("cur_n"),
      round(col("__rs"), 6).as("ref_share"),
      round(col("__cs"), 6).as("cur_share"),
      round(col("__psi0"), 6).as("psi"),
      round(sum(col("__psi0")).over(byFeature), 6).as("feature_psi"))
  }
}
