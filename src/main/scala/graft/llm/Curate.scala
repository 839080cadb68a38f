package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The canonical training-data curation pipeline, composed from the
  * individual operators into ONE declarative plan: quality scoring →
  * language filter → exact dedup → stats projection. This is the llm
  * counterpart of the reference's `demo_all_features` — it proves the
  * operators compose without materialization barriers between stages.
  *
  * Scale notes: scoring/lang-id are narrow projections fused into the
  * scan; the only shuffle is exact dedup's hash-keyed window (with its
  * map-side WindowGroupLimit). Filters run BEFORE the shuffle, so
  * low-quality and off-language documents never pay network cost —
  * the order of stages is load-bearing at 100 TB.
  */
object Curate {

  def apply(
      docs: DataFrame,
      minQuality: Double = 0.1,
      langs: Seq[String] = Seq("en"),
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    Dedup.exact(scoredKept(docs, minQuality, langs, textCol), textCol, idCol)
      .select(col(idCol), col("lang_pred"),
        round(col("quality_score"), 6).as("quality_score"),
        col("content_hash"))

  /** The shared pre-dedup stage — quality scoring, language-id, and the
    * keep filters — used by BOTH the batch pipeline above and
    * [[graft.streaming.StreamOps.curateStream]], so the two can never
    * drift apart on what "kept" means. */
  private[graft] def scoredKept(
      docs: DataFrame,
      minQuality: Double,
      langs: Seq[String],
      textCol: String): DataFrame =
    TextAnalysis.languageId(
      TextAnalysis.qualityScore(docs, textCol), textCol)
      .filter(col("quality_score") >= minQuality &&
        col("lang_pred").isin(langs: _*))

  /** Per-stage attrition report for the [[apply]] pipeline — the
    * curation observability deliverable (what did each rule COST?):
    * one row per stage with (n_in, n_dropped, n_out, drop_share),
    * sequential-funnel semantics (a doc is charged to the FIRST rule
    * that drops it, exactly as the pipeline applies them):
    * quality → language → exact-dedup.
    *
    * One corpus pass: every stage's flag is a projection column
    * (quality score, lang-id, content hash — the same shared
    * expressions the pipeline itself uses, so the report can never
    * disagree with [[apply]]), folded into ONE aggregate of
    * conditional counts + a distinct-hash count; the three stage rows
    * explode out of the single stats row. drop_share divides exact
    * integer counts (6dp, spelled order). */
  def attritionReport(
      docs: DataFrame,
      minQuality: Double = 0.1,
      langs: Seq[String] = Seq("en"),
      textCol: String = "text"): DataFrame = {
    val scored = TextAnalysis.languageId(
      TextAnalysis.qualityScore(docs, textCol), textCol)
    val qOk = col("quality_score") >= minQuality
    val lOk = col("lang_pred").isin(langs: _*)
    val stats = scored
      .select(qOk.as("q_ok"), lOk.as("l_ok"),
        Dedup.contentHash(col(textCol)).as("h"))
      .agg(
        count(lit(1)).as("n_total"),
        count(when(!col("q_ok"), lit(1))).as("q_drop"),
        count(when(col("q_ok") && !col("l_ok"), lit(1))).as("l_drop"),
        count(when(col("q_ok") && col("l_ok"), lit(1))).as("n_pre_dedup"),
        countDistinct(when(col("q_ok") && col("l_ok"), col("h")))
          .as("n_groups"))
    val stages = array(
      struct(lit(1).as("stage_idx"), lit("quality").as("stage"),
        col("n_total").as("n_in"), col("q_drop").as("n_dropped")),
      struct(lit(2).as("stage_idx"), lit("language").as("stage"),
        (col("n_total") - col("q_drop")).as("n_in"),
        col("l_drop").as("n_dropped")),
      struct(lit(3).as("stage_idx"), lit("exact_dedup").as("stage"),
        col("n_pre_dedup").as("n_in"),
        (col("n_pre_dedup") - col("n_groups")).as("n_dropped")))
    stats.select(explode(stages).as("s"))
      .select(col("s.stage_idx").as("stage_idx"), col("s.stage").as("stage"),
        col("s.n_in").as("n_in"), col("s.n_dropped").as("n_dropped"),
        (col("s.n_in") - col("s.n_dropped")).as("n_out"),
        round(col("s.n_dropped").cast("double") /
          col("s.n_in").cast("double"), 6).as("drop_share"))
  }

  /** Deterministic per-source corpus mixing (data-mixture sampling):
    * keeps a stable `fractions(source)` share of each source's docs by
    * comparing a 16-bit md5 bucket of the doc id (first four hex chars
    * — lexicographic compare on fixed-width lowercase hex IS numeric
    * compare) against the fraction's threshold. No RNG state anywhere,
    * so the SAME documents are kept across re-runs, engines, partition
    * layouts and cluster sizes — the reproducibility property mixture
    * rebalancing needs, which `sampleBy`'s per-partition RNG does not
    * give (its sample changes with the partitioning). Sources absent
    * from `fractions` are dropped: a mixture spec is exhaustive.
    *
    * Granularity: thresholds quantize to 1/65536 steps (the 16-bit
    * bucket), so the kept share of a source is within ±1/65536 of the
    * requested fraction. A nonzero fraction small enough to round to
    * the keep-nothing threshold is rejected rather than silently
    * dropping the whole source — pass 0.0 to drop a source on purpose.
    *
    * Scale: a pure narrow projection-filter fused into the scan — no
    * shuffle, no state; the threshold map is a plan literal. */
  def mixCorpus(
      docs: DataFrame,
      fractions: Map[String, Double],
      sourceCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    require(fractions.nonEmpty, "fractions must name at least one source")
    val thresholds = fractions.map { case (s, f) =>
      require(f >= 0.0 && f <= 1.0, s"fraction for $s must be in [0,1], got $f")
      require(f == 0.0 || math.round(f * 65536) >= 1,
        s"fraction for $s ($f) is below the 1/65536 mixing granularity " +
          "and would keep NOTHING; use 0.0 to drop the source explicitly")
      // f == 1.0 would need the 5-char "10000", which sorts BELOW
      // "2..." lexicographically; "g" sorts above every hex char and
      // keeps everything
      s -> (if (f >= 1.0) "g"
            else f"${math.min(65535L, math.round(f * 65536)).toInt}%04x")
    }
    val thrMap = map(
      thresholds.toSeq.flatMap { case (s, t) => Seq(lit(s), lit(t)) }: _*)
    docs.filter(
      substring(md5(col(idCol).cast("string")), 1, 4) <
        element_at(thrMap, col(sourceCol)))
  }

  /** Repeat-factor UP-sampling — the other half of corpus mixing:
    * [[mixCorpus]] down-samples over-represented sources by fraction;
    * this replicates under-represented ones by an integer factor (the
    * multi-epoch treatment rare high-value domains get in pretraining
    * mixes — e.g. Wikipedia/books repeated 2-5× while web crawl runs
    * sub-1-epoch; cf. the published GPT-3 / The Pile / DoReMi mixture
    * tables). Each kept row is emitted `factor` times with a dense
    * `copy_idx` (0-based) so downstream packing/shuffling can keep or
    * distinguish epochs; factor 0 drops the source outright and
    * unlisted sources take `default`.
    *
    * Scale: a pure narrow explode fused into the scan — zero shuffles,
    * zero state; the factor map is a plan literal. Compose with
    * [[globalShuffle]] to interleave the copies before packing (the
    * replicas are adjacent in scan order otherwise). */
  def repeatUpsample(
      docs: DataFrame,
      factors: Map[String, Int],
      sourceCol: String = "source",
      default: Int = 1): DataFrame = {
    require(factors.nonEmpty, "factors must name at least one source")
    factors.foreach { case (s, f) =>
      require(f >= 0, s"factor for $s must be >= 0, got $f") }
    require(default >= 0, s"default factor must be >= 0, got $default")
    val factor = factors.foldLeft(lit(default)) { case (acc, (s, f)) =>
      when(col(sourceCol) === s, lit(f)).otherwise(acc)
    }
    // factor 0 must emit an EMPTY array (explode then drops the row);
    // a bare sequence(0, factor-1) would instead infer step -1 and
    // yield [0, -1] — two copies — so the zero branch is explicit
    docs.withColumn("copy_idx",
      explode(when(factor > lit(0), sequence(lit(0), factor - lit(1)))
        .otherwise(array().cast("array<int>"))))
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis 2006, "Weighted random sampling with a reservoir"): each
    * row gets key = u^(1/w) for a uniform u and weight w, and the k
    * LARGEST keys are the sample — inclusion probability proportional
    * to weight, the quality-weighted corpus selection step ("sample
    * 100k docs, favoring high-quality ones") of a curation pipeline.
    *
    * No RNG: u is derived from the row id's md5 (the 16-bit bucket of
    * the [[mixCorpus]] recipe, centered: (bucket + 0.5)/65536), so the
    * sample is reproducible across engines, re-runs and partition
    * layouts, and — like every hash-keyed sampler here — growing the
    * corpus never flips the key of an existing row. Keys are rounded
    * to 6dp pre-rank (id ties) so a `pow` ulp can't flip the cut.
    *
    * Scale shape: a pure narrow projection followed by a global top-k
    * (TakeOrdered — per-partition heaps of k, driver merge of
    * k·partitions rows). ZERO shuffles for any corpus size; k is the
    * only driver-side state. Weights must be positive; they are
    * floored at 1e-9 rather than crashing mid-scan at scale. */
  def weightedSample(
      docs: DataFrame,
      k: Int,
      weightCol: String = "n_chars",
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val bucket = conv(substring(md5(col(idCol).cast("string")), 1, 4),
      16, 10).cast("double")
    val u = (bucket + lit(0.5)) / lit(65536.0)
    val w = greatest(col(weightCol).cast("double"), lit(1e-9))
    docs
      .withColumn("sample_key", round(pow(u, lit(1.0) / w), 6))
      .orderBy(col("sample_key").desc, col(idCol))
      .limit(k)
  }

  /** Temperature-scaled source mixing (the multilingual-corpus recipe
    * popularized by multilingual LM training: sample sources with
    * probability ∝ nᵅ, α < 1 flattening the natural distribution so
    * rare sources aren't drowned out). Realized WITHOUT replication as
    * deterministic subsampling of abundant sources: keep fraction
    * fᵢ = (n_min / nᵢ)^(1−α) — 1.0 for the rarest source, smallest
    * for the biggest; α = 1 keeps everything (natural), α = 0 equalizes
    * source sizes. The per-source counts are one fixed-size driver
    * aggregate (source cardinality ≪ corpus — the quantile-triple
    * pattern); the kept set is then the [[mixCorpus]] md5-bucket
    * filter, inheriting its engine-stable 16-bit-quantized thresholds,
    * reproducibility across partitionings/cluster sizes, and its
    * grow-only property (new docs never reassign old ones).
    *
    * Scale: one vocabulary-scale aggregation + a pure narrow filter
    * with plan-literal thresholds — no shuffle on the corpus. */
  def temperatureMix(
      docs: DataFrame,
      alpha: Double = 0.7,
      sourceCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0,
      s"alpha must be in [0,1], got $alpha")
    val counts = docs.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    require(counts.nonEmpty, "temperatureMix: empty corpus")
    val nMin = counts.map(_._2).min
    val fractions = counts.map { case (s, n) =>
      s -> math.pow(nMin.toDouble / n, 1.0 - alpha)
    }.toMap
    mixCorpus(docs, fractions, sourceCol, idCol)
  }

  /** Deterministic train/val/test (or any n-way) split by hashed id —
    * the held-out-set assignment step of a corpus pipeline. The 16-bit
    * md5 bucket of the id (the [[mixCorpus]] recipe: first four hex
    * chars, fixed-width lowercase hex compares lexicographically ==
    * numerically) is partitioned by cumulative weight thresholds, so:
    * the same doc lands in the same split across re-runs, engines,
    * partition layouts and cluster sizes; adding new documents NEVER
    * reassigns existing ones (the property `rand()`-based splits and
    * `randomSplit` cannot give — their assignment changes with the
    * partitioning); and split shares are within 1/65536 of the
    * requested weights. Weights are normalized; order matters (it
    * fixes which hash range each name owns).
    *
    * Scale: a pure narrow projection — the thresholds are plan
    * literals, no shuffle, no state, fused into the scan. */
  def hashSplit(
      docs: DataFrame,
      weights: Seq[(String, Double)] =
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      idCol: String = "doc_id",
      outputCol: String = "split"): DataFrame = {
    require(weights.nonEmpty, "weights must name at least one split")
    require(weights.map(_._1).distinct.size == weights.size,
      s"duplicate split names in $weights")
    weights.foreach { case (name, w) =>
      require(w > 0, s"weight for $name must be > 0, got $w") }
    val total = weights.map(_._2).sum
    // cumulative upper thresholds for all but the last split; the last
    // takes the remaining hash range unconditionally (no "g" sentinel
    // needed — otherwise rounding could orphan the top bucket)
    val cumBuckets = weights.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(c => math.min(65536L, math.round(c / total * 65536)))
    // a split whose weight rounds below one 16-bit bucket would
    // silently receive NOTHING — reject, like mixCorpus's granularity
    // guard (weights are declared shares; an empty split is a bug)
    cumBuckets.zip(0L +: cumBuckets.init).zip(weights).foreach {
      case ((hi, lo), (name, w)) =>
        require(hi > lo,
          s"weight for $name ($w of total $total) is below the 1/65536 " +
            "split granularity and would receive no rows")
    }
    val thresholds = cumBuckets.init
      .map(c => f"${math.min(65535L, c).toInt}%04x")
    val bucket = substring(md5(col(idCol).cast("string")), 1, 4)
    val label = thresholds.zip(weights.map(_._1)).foldRight(
      lit(weights.last._1)) { case ((thr, name), els) =>
      when(bucket < lit(thr), lit(name)).otherwise(els)
    }
    docs.withColumn(outputCol, label)
  }

  /** Per-source quality quota: at most `k` docs per source, ranked by
    * quality score (6dp-rounded so the rank key is stable across
    * engines) with the doc id as the deterministic tiebreak. The
    * per-domain cap every mixture pipeline applies so one crawl
    * domain can't flood the corpus with its best-scoring boilerplate.
    *
    * Scale: quality scoring is a narrow codegen'd projection; the
    * quota is ONE shuffle on `sourceCol` and a row_number whose
    * `<= k` filter Spark rewrites into a WindowGroupLimit — each map
    * task keeps at most k rows per source before the exchange, so a
    * hot domain never concentrates its full row set on one reducer. */
  def sourceQuota(
      docs: DataFrame,
      k: Int,
      sourceCol: String = "source",
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val scored = TextAnalysis.qualityScore(docs, textCol)
      .withColumn("quality_score", round(col("quality_score"), 6))
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(col("quality_score").desc, col(idCol))
    scored.withColumn("quota_rank", row_number().over(w))
      .filter(col("quota_rank") <= k)
      .select(col(idCol), col(sourceCol), col("quality_score"),
        col("quota_rank"))
  }

  /** Benchmark-contamination report: for each doc in `docs` sharing at
    * least one word `n`-gram with ANY doc in `benchmark`, the number of
    * distinct shared n-grams — the standard eval-decontamination
    * primitive (n≈8–13 exact-overlap in published training-data
    * pipelines). Docs under n tokens emit their WHOLE token sequence as
    * one gram on both sides, so a short benchmark item only matches an
    * identical short doc — never any doc containing one of its words.
    *
    * Scale: the benchmark side reduces to a DISTINCT gram set that is
    * small by construction (eval suites, not corpora), so the join
    * against the corpus gram stream is broadcast-able and the corpus
    * never shuffles on gram — AQE picks broadcast once the gram set's
    * runtime stats fit, falling back to a hash join for pathologically
    * large suites. One groupBy on `idCol` aggregates the (pre-distinct,
    * so count == count-distinct) per-doc hits. */
  def contamination(
      docs: DataFrame,
      benchmark: DataFrame,
      n: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val trainGrams = Dedup.strictGrams(
        docs.select(col(idCol), col(textCol)), textCol, idCol, n)
      .select(col(idCol), explode(array_distinct(col("grams"))).as("g"))
    trainGrams.join(benchmarkGrams(benchmark, n, textCol, idCol), "g")
      .groupBy(idCol)
      .agg(count(lit(1)).as("shared_ngrams"))
  }

  /** The distinct benchmark gram set both [[contamination]] and
    * [[graft.streaming.StreamOps.decontaminateStream]] join against —
    * one definition so batch and stream can never diverge on what a
    * benchmark gram is. */
  private[graft] def benchmarkGrams(
      benchmark: DataFrame,
      n: Int,
      textCol: String,
      idCol: String): DataFrame =
    Dedup.strictGrams(
        benchmark.select(col(idCol), col(textCol)), textCol, idCol, n)
      .select(explode(col("grams")).as("g"))
      .distinct()

  /** The rows of `docs` that survive decontamination: everything with
    * fewer than `minShared` distinct n-grams in common with the
    * benchmark set ([[contamination]]'s anti-join twin). */
  def decontaminate(
      docs: DataFrame,
      benchmark: DataFrame,
      n: Int = 8,
      minShared: Int = 1,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.join(
      contamination(docs, benchmark, n, textCol, idCol)
        .filter(col("shared_ngrams") >= minShared)
        .select(idCol),
      Seq(idCol), "left_anti")

  /** The parity encoding (corpus id·2, benchmark id·2+1) with its
    * precondition ENFORCED in-plan: ids outside [-2^62, 2^62) would
    * silently wrap under non-ANSI long multiplication and
    * `shiftright` would then recover a WRONG original id — the
    * anti-join would keep a contaminated doc. `raise_error` makes
    * that a loud per-row failure instead (a codegen branch, no extra
    * pass). The bound is exact: id·2 ∈ [-2^63, 2^63-2] and +1 stays
    * representable, so every id in the range round-trips. The lower
    * bound is checked directly (not via `abs`, which itself wraps at
    * Long.MinValue and would let -2^63 slip through). */
  private def parityTag(id: Column, parity: Int): Column = {
    val lim = 1L << 62
    val idL = id.cast("long")
    when(idL >= lim || idL < -lim,
      raise_error(concat(
        lit("nearContamination: id out of parity-taggable range " +
          "[-2^62, 2^62): "), idL.cast("string"))))
      .otherwise(idL * 2 + parity)
  }

  /** NEAR-duplicate contamination: training docs whose 3-gram shingle
    * Jaccard against ANY benchmark item reaches `minJaccard` — the
    * fuzzy complement of [[contamination]]'s exact-8-gram test, which
    * a lightly paraphrased or reformatted eval item slips past while
    * its shingle set barely moves. Returns (idCol, bench_id, jaccard)
    * per contaminated pair.
    *
    * Scale shape: both sides run the SAME banded-minhash pipeline
    * ([[Dedup.minhashBandKeys]], shared seed/knobs, so band keys are
    * comparable across frames); the benchmark side is an eval suite —
    * small by construction — so its banded keys BROADCAST and the
    * candidate join never shuffles the corpus. Verification
    * ([[Dedup.ngramJaccard]]) is candidate-bounded. Inside the shared
    * verify frame the two id spaces are PARITY-TAGGED — corpus ids map
    * to even longs (id·2), benchmark ids to odd (id·2+1) — which is
    * injective for ids of ANY sign, so negative-id corpora (signed
    * hash ids) are screened like everything else instead of silently
    * bypassing decontamination (the round-11 review finding against
    * the earlier filter-out-negatives guard). Outputs carry the
    * original ids (arithmetic shift right, exact for all longs). Ids
    * must lie in [-2^62, 2^62) — any practical id space; the earlier
    * (-id - 1) remap needed nonnegative ids outright — and the bound
    * is ENFORCED per-row by [[parityTag]] (round-12 advice: the
    * documented-but-unchecked precondition was exactly the id space
    * uniform 64-bit hash ids violate ~50% of the time). */
  def nearContamination(
      docs: DataFrame,
      benchmark: DataFrame,
      minJaccard: Double = 0.5,
      numHashes: Int = 64,
      bands: Int = 32,
      textCol: String = "text",
      idCol: String = "doc_id",
      seed: Long = 42L): DataFrame = {
    val t = docs.select(
      parityTag(col(idCol), 0).as(idCol), col(textCol))
    val bNeg = benchmark
      .select(parityTag(col(idCol), 1).as(idCol), col(textCol))
    val tBands = Dedup.minhashBandKeys(t, textCol, idCol,
      numHashes, bands, seed)
    val bBands = Dedup.minhashBandKeys(bNeg, textCol, idCol,
      numHashes, bands, seed)
    val cands = tBands
      .join(broadcast(bBands.withColumnRenamed(idCol, "id_b")), "bk")
      .select(col(idCol).as("id_a"), col("id_b"))
      .distinct()
      // r18: ngramJaccard reads `pairs` twice (candidate-id semi-join
      // + the pair join) — un-cut, the banded broadcast join and its
      // corpus-side minhash re-ran per reference. Compact id pairs.
      .localCheckpoint(false)
    Dedup.ngramJaccard(t.unionByName(bNeg), cands,
      textCol = textCol, idCol = idCol)
      .filter(col("jaccard") >= minJaccard)
      .select(shiftright(col("id_a"), 1).as(idCol),
        shiftright(col("id_b"), 1).as("bench_id"), col("jaccard"))
  }

  /** The rows of `docs` that survive near-duplicate decontamination —
    * [[nearContamination]]'s anti-join twin, same contract as
    * [[decontaminate]].
    *
    * Band knobs: the default (64 hashes, 32 bands ⇒ 2 rows/band) is
    * deliberately LOOSER than the dedup family's 16×4 — at the 0.5
    * decision boundary a 4-row band misses a true pair ~36% of the
    * time, while 2-row bands hold miss ≈ 1e-4; the extra candidates
    * are bounded by the (small) benchmark side and absorbed by the
    * exact verify. A production corpus with a heavy background-
    * similarity floor can raise rows-per-band and pay the recall
    * margin consciously. */
  def decontaminateNear(
      docs: DataFrame,
      benchmark: DataFrame,
      minJaccard: Double = 0.5,
      numHashes: Int = 64,
      bands: Int = 32,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.join(
      nearContamination(docs, benchmark, minJaccard, numHashes, bands,
        textCol = textCol, idCol = idCol)
        .select(idCol).distinct(),
      Seq(idCol), "left_anti")

  /** [[decontaminate]] with a broadcast Bloom prefilter on the corpus
    * gram stream — IDENTICAL output (false positives are re-verified by
    * the exact gram join; `fpp` tunes cost, never correctness), very
    * different 100 TB cost. The exact path ships every corpus gram into
    * the join; at 1 gram/token over 100 TB that is ~10^13 join probes.
    * Here each gram first probes an executor-local Bloom built over the
    * benchmark grams, so the (1 - fpp) fraction that can't possibly
    * match dies inside the scan's WholeStageCodegen stage — the join
    * (and, under AQE's fallback to a shuffled join for a pathologically
    * large suite, the shuffle) sees only true hits + fpp noise.
    *
    * Build cost: the benchmark gram set is driver-visible by
    * construction (eval suites, not corpora), so the two eager jobs
    * here (count, then the `stat.bloomFilter` aggregate) scan only the
    * small side; the corpus side stays fully lazy. The grams are
    * probed via `xxhash64` on BOTH the build and probe sides — the
    * filter stores hashes, not strings, so its size is grams × ~10
    * bits at fpp=1%, independent of gram length. */
  def decontaminateBloom(
      docs: DataFrame,
      benchmark: DataFrame,
      n: Int = 8,
      minShared: Int = 1,
      fpp: Double = 0.01,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val bg = benchmarkGrams(benchmark, n, textCol, idCol)
    val hashed = bg.select(xxhash64(col("g")).as("h"))
    val expected = math.max(1L, hashed.count())
    val filter = hashed.stat.bloomFilter("h", expected, fpp)
    val bloomB = docs.sparkSession.sparkContext.broadcast(filter)

    val candidateGrams = Dedup.strictGrams(
        docs.select(col(idCol), col(textCol)), textCol, idCol, n)
      .select(col(idCol), explode(array_distinct(col("grams"))).as("g"))
      .filter(graft.functions.BloomMightContain(xxhash64(col("g")), bloomB))
    val flagged = candidateGrams.join(bg, "g")
      .groupBy(idCol)
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minShared)
      .select(idCol)
    docs.join(flagged, Seq(idCol), "left_anti")
  }

  /** Deterministic per-source uniform sample: the k docs per source
    * with the smallest md5 bucket of their id — a hash-rank reservoir.
    * The md5 bucket is uniform and independent of the id's magnitude
    * or insertion order, so the sample is uniform-without-replacement
    * per source, IDENTICAL across engines/partitionings/reruns, and
    * STABLE under corpus growth in the reservoir sense (a doc leaves
    * the sample only when a smaller-bucket doc arrives — `limit` after
    * `orderBy rand()` re-deals the whole sample every run instead).
    * The inspect-k-docs-per-source query every curation review runs.
    *
    * Scale: one shuffle on `sourceCol`; the row_number rank filter
    * rewrites to a map-side WindowGroupLimit (each task keeps ≤ k rows
    * per source before the exchange — the [[sourceQuota]] shape).
    * Ties on the 16-bit bucket break by doc id, so the rank order is
    * total in both engines. */
  def sampleBySource(
      docs: DataFrame,
      k: Int,
      sourceCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(col("sample_key"), col(idCol))
    docs
      .withColumn("sample_key",
        substring(md5(col(idCol).cast("string")), 1, 4))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
      .select(col(idCol), col(sourceCol), col("sample_key"),
        col("sample_rank"))
  }

  /** Per-source quality quartiles: each doc labeled 1–4 by `ntile(4)`
    * over its source's quality ranking — the binning step behind
    * "train on the top quartile of every source" curricula (absolute
    * thresholds misbehave across sources with different score
    * distributions; within-source quantile bins don't).
    *
    * Determinism: the rank key is the 6dp-ROUNDED score with doc id as
    * tiebreak (the [[sourceQuota]] recipe), so the total order — and
    * therefore every ntile boundary — is identical across engines.
    * Scale: one shuffle, partitioned by source (never a global-order
    * single-partition window); ntile carries O(1) state per row. */
  def qualityQuartiles(
      docs: DataFrame,
      buckets: Int = 4,
      sourceCol: String = "source",
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val scored = TextAnalysis.qualityScore(docs, textCol)
      .withColumn("quality_score", round(col("quality_score"), 6))
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(col("quality_score").desc, col(idCol))
    scored
      .withColumn("quartile", ntile(buckets).over(w))
      .select(col(idCol), col(sourceCol), col("quality_score"),
        col("quartile"))
  }

  /** Cross-split leakage report: for each non-train split of
    * [[hashSplit]], how many docs share at least one word `n`-gram
    * with ANY train-split doc — the held-out-integrity audit every
    * eval pipeline runs after splitting (a val/test doc that overlaps
    * train measures memorization, not generalization). Returns one row
    * per non-train split: `(split, n_docs, n_contaminated)`.
    *
    * Scale shape: the train gram set is corpus-sized, so unlike
    * [[contamination]] (benchmark side small by construction) this is
    * an honest shuffle equi-join on the gram — but a LINEAR one: the
    * train side is reduced to a DISTINCT gram SET first (1 row per
    * gram), so each eval gram matches at most one row and the join
    * output is bounded by the eval gram count; no doc-pair fan-out
    * exists anywhere. Boilerplate grams therefore cost their one set
    * row, not a quadratic pairing. The distinct + join are the price
    * of an audit you run once per split release. */
  def splitContamination(
      docs: DataFrame,
      weights: Seq[(String, Double)] =
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      trainSplit: String = "train",
      n: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(weights.exists(_._1 == trainSplit),
      s"weights must contain the train split '$trainSplit'")
    val split = hashSplit(docs, weights, idCol)
    val trainGrams = Dedup.strictGrams(
        split.filter(col("split") === trainSplit)
          .select(col(idCol), col(textCol)), textCol, idCol, n)
      .select(explode(col("grams")).as("g"))
      .distinct()
    val evalDocs = split.filter(col("split") =!= trainSplit)
    val evalGrams = Dedup.strictGrams(
        evalDocs.select(col(idCol), col(textCol)), textCol, idCol, n)
      .select(col(idCol), explode(array_distinct(col("grams"))).as("g"))
    val contaminated = evalGrams.join(trainGrams, "g")
      .select(idCol).distinct()
      .withColumn("hit", lit(1))
    evalDocs.join(contaminated, Seq(idCol), "left")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        count(col("hit")).as("n_contaminated"))
  }

  /** Deterministic global training order: every doc gets a unique,
    * engine-independent position `0..n-1` in md5-shuffled order — the
    * "shuffle the corpus once, then stream it" step before sequence
    * packing. A seeded `rand()` order is partitioning-dependent and a
    * global `row_number() OVER (ORDER BY ...)` plans as a
    * SINGLE-PARTITION window (every row through one task — the
    * canonical 100 TB scale-killer), so neither is acceptable.
    *
    * Two-phase range-bucket index instead (the TeraSort/zipWithIndex
    * recipe, expressed declaratively):
    *   1. bucket = the 16-bit prefix of md5(id) → `groupBy(bucket)`
    *      counts. The counts frame is ≤ 65536 rows REGARDLESS of corpus
    *      size, so the cumulative-sum window over it being
    *      single-partition is fine — it is driver-scale by construction.
    *   2. position = (broadcast) bucket offset + rank within bucket,
    *      where the rank window partitions by bucket — 65536-way
    *      parallel, uniform by md5. Ties impossible: the full 32-hex
    *      md5 with id tiebreak is a total order.
    * Net cost: one extra pass for counts + ONE shuffle of the corpus on
    * bucket; no stage touches more than 1/65536th of the data per task.
    * Equals `row_number() OVER (ORDER BY md5(id), id) - 1` exactly —
    * the oracle — while staying executable at any scale. */
  def globalShuffleOrder(
      docs: DataFrame,
      idCol: String = "doc_id",
      outputCol: String = "pos"): DataFrame = {
    val key = md5(col(idCol).cast("string"))
    val withKey = docs.select(col(idCol))
      .withColumn("shuffle_key", key)
      .withColumn("bkt", conv(substring(col("shuffle_key"), 1, 4), 16, 10)
        .cast("long"))
    val offsets = withKey.groupBy("bkt").count()
      .withColumn("offset",
        coalesce(sum("count").over(
          Window.orderBy("bkt").rowsBetween(
            Window.unboundedPreceding, -1)), lit(0L)))
      .select("bkt", "offset")
    val w = Window.partitionBy("bkt")
      .orderBy(col("shuffle_key"), col(idCol))
    withKey.join(broadcast(offsets), "bkt")
      .withColumn(outputCol,
        (col("offset") + row_number().over(w) - lit(1)).cast("long"))
      .select(col(idCol), col("shuffle_key"), col(outputCol))
  }

  /** [[globalShuffleOrder]] composed with
    * [[graft.llm.TextAnalysis.packBins]]'s budgeting: pack the
    * md5-SHUFFLED corpus into fixed token-budget training batches —
    * the "shuffle once, then fill sequence bins in that order" step a
    * pre-training data loader runs. Returns
    * `(id, shuffle_key, n_tokens, tokens_before, bin_id, bin_offset)`
    * where `tokens_before` is the exact global running token total in
    * shuffle order.
    *
    * The global prefix sum reuses [[globalShuffleOrder]]'s two-phase
    * 16-bit-bucket recipe — per-bucket token SUBTOTALS (≤ 65536 rows,
    * driver-scale by construction) cumulate into bucket offsets, each
    * row adds its within-bucket running sum — so the naive
    * formulation's single-partition global-order window never appears;
    * one corpus shuffle on the bucket, 65536-way-parallel windows.
    * Equals `SUM(n_tokens) OVER (ORDER BY md5(id), id ROWS UNBOUNDED
    * PRECEDING TO 1 PRECEDING)` exactly — the oracle. */
  def shufflePackBins(
      docs: DataFrame,
      binTokens: Int = 2048,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(binTokens > 0, s"binTokens must be positive: $binTokens")
    val withKey = docs.select(col(idCol), col(textCol))
      .withColumn("shuffle_key", md5(col(idCol).cast("string")))
      .withColumn("bkt", conv(substring(col("shuffle_key"), 1, 4), 16, 10)
        .cast("long"))
      .withColumn("n_tokens",
        size(regexp_extract_all(col(textCol), lit("\\S+"), lit(0))))
      .drop(textCol)
    val offsets = withKey.groupBy("bkt")
      .agg(sum("n_tokens").as("bucket_toks"))
      .withColumn("offset",
        coalesce(sum("bucket_toks").over(
          Window.orderBy("bkt").rowsBetween(
            Window.unboundedPreceding, -1)), lit(0L)))
      .select("bkt", "offset")
    val w = Window.partitionBy("bkt")
      .orderBy(col("shuffle_key"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    withKey.join(broadcast(offsets), "bkt")
      .withColumn("tokens_before",
        col("offset") + coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin_id", (col("tokens_before") / binTokens).cast("long"))
      .withColumn("bin_offset", col("tokens_before") % binTokens)
      .select(col(idCol), col("shuffle_key"), col("n_tokens"),
        col("tokens_before"), col("bin_id"), col("bin_offset"))
  }

  /** Per-source TOKEN-budget sampling (r15) — the actual pretraining
    * mix knob: mixes are specified as "B tokens of source s", not row
    * fractions ([[mixCorpus]]) or row caps ([[sourceQuota]]). Each
    * budgeted source keeps a deterministic uniform prefix of its docs
    * in md5-hash-rank order while the source's running token total
    * (INCLUSIVE of the current doc) stays within its budget — the
    * budget is never exceeded, a doc larger than the remaining budget
    * (or the whole budget) is dropped, and sources absent from
    * `budgets` are dropped entirely. Hash-rank ordering makes the kept
    * prefix an unbiased without-replacement sample AND reproducible
    * across engines/partitionings (no RNG — the [[mixCorpus]]
    * determinism contract).
    *
    * Output: the budgeted rows as (idCol, sourceCol, n_tokens,
    * tokens_through) where `tokens_through` is the source's inclusive
    * running total at this doc (≤ the source budget by construction).
    *
    * Scale shape: the per-source running sum reuses
    * [[globalShuffleOrder]]'s two-phase 16-bit-bucket recipe — without
    * it the window is one partition per SOURCE, a cliff when a source
    * is half the corpus. Per-(source, bucket) subtotals (≤ 65536 ×
    * sources rows, broadcast) cumulate into offsets; each row adds its
    * within-bucket inclusive running sum. One corpus shuffle on
    * (source, bucket); the budget filter is a literal CASE fused into
    * the final projection. Equals `SUM(n_tokens) OVER (PARTITION BY
    * source ORDER BY md5(id), id)` exactly — the oracle. */
  def tokenBudgetMix(
      docs: DataFrame,
      budgets: Map[String, Long],
      textCol: String = "text",
      idCol: String = "doc_id",
      sourceCol: String = "source"): DataFrame = {
    require(budgets.nonEmpty, "tokenBudgetMix needs at least one budget")
    require(budgets.values.forall(_ >= 0),
      s"budgets must be non-negative, got $budgets")
    val budgetCol = budgets.foldLeft(lit(null).cast("long")) {
      case (acc, (s, b)) => when(col(sourceCol) === s, lit(b)).otherwise(acc)
    }
    val withKey = docs
      .withColumn("__budget", budgetCol)
      .filter(col("__budget").isNotNull)
      .withColumn("shuffle_key", md5(col(idCol).cast("string")))
      .withColumn("bkt",
        conv(substring(col("shuffle_key"), 1, 4), 16, 10).cast("long"))
      .withColumn("n_tokens",
        size(regexp_extract_all(col(textCol), lit("\\S+"), lit(0)))
          .cast("long"))
    val offsets = withKey.groupBy(col(sourceCol), col("bkt"))
      .agg(sum("n_tokens").as("bucket_toks"))
      .withColumn("offset",
        coalesce(sum("bucket_toks").over(
          Window.partitionBy(col(sourceCol)).orderBy("bkt").rowsBetween(
            Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(sourceCol), col("bkt"), col("offset"))
    val w = Window.partitionBy(col(sourceCol), col("bkt"))
      .orderBy(col("shuffle_key"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, 0) // inclusive
    withKey.join(broadcast(offsets), Seq(sourceCol, "bkt"))
      .withColumn("tokens_through",
        col("offset") + sum(col("n_tokens")).over(w))
      .filter(col("tokens_through") <= col("__budget"))
      .select(col(idCol), col(sourceCol), col("n_tokens"),
        col("tokens_through"))
  }

  /** Contrastive training pairs: each (anchor, positive) link — e.g.
    * verified near-dup star links ([[Dedup.minhashStarFromBandKeys]]
    * checked by [[Dedup.ngramJaccard]]) — joined with `negPerAnchor`
    * DETERMINISTIC negatives drawn by bucketed hash-rank sampling, no
    * RNG and no cross join anywhere.
    *
    * The sampler: every doc lands in one of `nBuckets` md5 buckets;
    * each anchor is assigned a pseudo-random TARGET bucket (the
    * md5 of its id salted with `#neg` — independent of the doc's own
    * bucket assignment), equi-joins that bucket's members, and keeps
    * the `negPerAnchor` candidates with the smallest md5(anchor|cand)
    * pair rank. Three determinism properties follow: re-runs and
    * repartitionings reproduce the same negatives (hash ranks, not
    * RNG), adding documents to OTHER buckets never disturbs an
    * anchor's negatives (locality — the nightly-incremental property
    * the md5-split family already has), and the whole chain is
    * restatable in oracle SQL (the mixCorpus md5 recipe +
    * row_number).
    *
    * `exclude` lists (id, id) pairs that must never serve as an
    * anchor's negative — pass the FULL near-dup relation (or the
    * connected-components edge closure) when positives are only a
    * spanning subset; both orientations are handled internally, and
    * self-pairs are always excluded. A candidate surviving exclusion
    * is a genuine negative by the caller's own duplicate relation.
    *
    * 100 TB: the bucket equi-join meets each anchor with ~N/nBuckets
    * candidates — size `nBuckets` ∝ corpus/1k so the per-anchor pool
    * stays constant; ONE window shuffle on anchor_id ranks the pool;
    * the exclusion anti-join keys on the pair. Work is linear in
    * anchors at fixed pool size, never all-pairs.
    *
    * Contract: an anchor whose target bucket holds no eligible
    * candidate (everything excluded, or an over-sized `nBuckets` left
    * the bucket empty) DROPS its (anchor, positive) examples — the
    * inner join is deliberate, a contrastive example without
    * negatives is untrainable. Size `nBuckets` so pools stay ≫
    * `negPerAnchor`; anchors short of the full k keep their examples
    * with ranks 1..available. */
  def contrastivePairs(
      docs: DataFrame,
      positives: DataFrame, // (anchor_id, pos_id)
      exclude: Option[DataFrame] = None, // (id_a, id_b), any orientation
      negPerAnchor: Int = 2,
      nBuckets: Int = 16,
      idCol: String = "doc_id"): DataFrame = {
    require(negPerAnchor >= 1 && nBuckets >= 1,
      s"negPerAnchor/nBuckets must be positive, got $negPerAnchor/$nBuckets")
    val hash64 = graft.functions.BottomK.hash64 _
    val excl = exclude.getOrElse(
        positives.select(col("anchor_id").as("id_a"),
          col("pos_id").as("id_b")))
      .select(col("id_a"), col("id_b"))
    val exclBoth = excl.unionByName(
      excl.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .distinct()
    val cands = docs.select(col(idCol).as("neg_id"),
      (hash64(col(idCol)) % nBuckets).as("b"))
    val anchors = positives.select(col("anchor_id")).distinct()
      .withColumn("tb",
        hash64(concat(col("anchor_id").cast("string"), lit("#neg")))
          % nBuckets)
    val ranked = anchors
      .join(cands, col("tb") === col("b"))
      .filter(col("neg_id") =!= col("anchor_id"))
      .join(exclBoth,
        col("anchor_id") === col("id_a") && col("neg_id") === col("id_b"),
        "left_anti")
      .withColumn("rk", hash64(concat(col("anchor_id").cast("string"),
        lit("|"), col("neg_id").cast("string"))))
      .withColumn("neg_rank", row_number().over(
        Window.partitionBy(col("anchor_id"))
          .orderBy(col("rk"), col("neg_id"))))
      .filter(col("neg_rank") <= negPerAnchor)
      .select(col("anchor_id"), col("neg_id"), col("neg_rank"))
    positives.join(ranked, Seq("anchor_id"))
      .select(col("anchor_id"), col("pos_id"), col("neg_id"),
        col("neg_rank"))
  }
}
