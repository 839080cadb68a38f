package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CurateSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")

  test("curate: keeps only en docs above quality, deduped, stats attached") {
    val out = Curate(docs)
    val n = out.count()
    assert(n > 0 && n < docs.count())
    assert(out.filter(col("lang_pred") =!= "en").count() == 0)
    assert(out.filter(col("quality_score") < 0.1).count() == 0)
    // dedup invariant: content hashes unique
    assert(out.select("content_hash").distinct().count() == n)
  }

  test("curate: stage order prunes before dedup (planted junk is dropped early)") {
    val s = spark
    import s.implicits._
    val junk = Seq(
      (900001L, "11 22 33 44 55 !!!"),          // digit/punct junk
      (900002L, "der hund ist von dem haus und der katze mit dem ball im garten auf der wiese und nicht allein"))
      .toDF("doc_id", "text")
    val extended = docs.select("doc_id", "text").unionByName(junk)
    val out = Curate(extended)
    assert(out.filter(col("doc_id") === 900001L).count() == 0) // low quality
    assert(out.filter(col("doc_id") === 900002L).count() == 0) // German
  }

  test("repeatUpsample: factors replicate with dense copy_idx, " +
      "factor 0 drops, unlisted sources take the default") {
    val s = spark
    import s.implicits._
    val in = Seq(
      (1L, "a"), (2L, "a"), (3L, "b"), (4L, "c"))
      .toDF("doc_id", "source")
    val out = Curate.repeatUpsample(in,
        Map("a" -> 2, "c" -> 0), default = 1)
      .collect()
      .map(r => (r.getLong(0), r.getInt(2)))
      .sorted
    assert(out.toSeq === Seq((1L, 0), (1L, 1), (2L, 0), (2L, 1), (3L, 0)))
    // zero shuffles: a narrow explode fused into the scan
    val plan = Curate.repeatUpsample(in, Map("a" -> 2))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(500))
    // negative factors rejected outright
    intercept[IllegalArgumentException] {
      Curate.repeatUpsample(in, Map("a" -> -1))
    }
  }

  test("mixCorpus: deterministic, nested thresholds, exhaustive spec") {
    val s = spark
    import s.implicits._
    val base = docs.select("doc_id", "text")
      .withColumn("source",
        concat(lit("s"), (col("doc_id") % 3).cast("string")))
    def kept(f: Map[String, Double]): Set[Long] =
      Curate.mixCorpus(base, f).select("doc_id")
        .collect().map(_.getLong(0)).toSet
    val all = base.filter(col("source") === "s0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // f = 1.0 keeps every doc of the source; absent sources are dropped
    assert(kept(Map("s0" -> 1.0)) == all)
    // threshold sampling nests: the 25% sample is inside the 50% sample,
    // and both are proper subsets at this corpus size
    val half = kept(Map("s0" -> 0.5))
    val quarter = kept(Map("s0" -> 0.25))
    assert(quarter.subsetOf(half) && half.subsetOf(all))
    assert(quarter.nonEmpty && half.size < all.size)
    // no RNG: identical call → identical kept set
    assert(kept(Map("s0" -> 0.5)) == half)
    assert(kept(Map("s0" -> 0.0)).isEmpty)
    // a nonzero fraction below the 1/65536 threshold granularity would
    // silently keep nothing — rejected; explicit 0.0 is the drop spelling
    intercept[IllegalArgumentException] {
      Curate.mixCorpus(base, Map("s0" -> 1e-7))
    }
    // the smallest representable fraction is accepted (threshold 0001)
    Curate.mixCorpus(base, Map("s0" -> 1.0 / 65536)).count()
  }

  test("decontaminateNear: mangled benchmark copy dropped with its pair " +
      "reported; unrelated doc kept; exact-gram twin would have missed it") {
    val s = spark
    import s.implicits._
    val bench = docs.filter(col("doc_id") % 41 === 0)
      .select("doc_id", "text")
    val srcRow = bench.orderBy("doc_id").head()
    val (srcId, srcText) = (srcRow.getLong(0), srcRow.getString(1))
    // paraphrase-level mangle: swap every 8th word for a novel token —
    // every 8-gram window contains a swapped position (gap = 8), so
    // the exact-gram path is blind to it; a swap kills the 3 shingles
    // covering it, leaving ~5/8 of shingles shared → Jaccard ≈ 0.45,
    // above the 0.4 threshold used here but far below exact-copy
    val words = srcText.split(" ")
    val mangled = words.zipWithIndex.map { case (w, i) =>
      if (i % 8 == 7) s"swapped$i" else w }.mkString(" ")
    val train = docs.filter(col("doc_id") % 41 =!= 0)
      .select("doc_id", "text")
      .unionByName(Seq(
        (500000L, mangled),
        (600000L, "entirely unrelated zebra quantum pickle astronomy " +
          "furnace melody " * 5)).toDF("doc_id", "text"))
    // the exact 8-gram path cannot see the mangled copy
    assert(Curate.contamination(train, bench)
      .filter(col("doc_id") === 500000L).count() == 0)
    // the near path catches it and names the right benchmark source
    val hits = Curate.nearContamination(train, bench, minJaccard = 0.4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(hits.contains((500000L, srcId)),
      s"expected (500000, $srcId) in ${hits.keys.take(8)}")
    assert(hits((500000L, srcId)) >= 0.4 && hits((500000L, srcId)) < 0.9)
    val kept = Curate.decontaminateNear(train, bench, minJaccard = 0.4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(500000L))
    assert(kept.contains(600000L))
    // NEGATIVE ids are screened too (parity-tagged internal keys, not
    // the old sign-flip): a contaminated doc with a signed-hash id and
    // a negative-id benchmark row both participate, original ids out
    val negTrain = train.unionByName(
      Seq((-7L, mangled)).toDF("doc_id", "text"))
    val negBench = bench.unionByName(
      Seq((-3L, srcText)).toDF("doc_id", "text"))
    val negHits = Curate.nearContamination(negTrain, negBench,
      minJaccard = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(negHits.contains((-7L, srcId)),
      s"negative-id corpus doc must be screened: ${negHits.take(8)}")
    assert(negHits.contains((-7L, -3L)),
      "negative-id benchmark row must contribute evidence")
    assert(!Curate.decontaminateNear(negTrain, negBench, minJaccard = 0.4)
      .select("doc_id").collect().map(_.getLong(0)).toSet.contains(-7L))
    // ...and ids OUTSIDE the parity-taggable range fail LOUDLY instead
    // of wrap-around silently keeping a contaminated doc (r12 advice:
    // uniform 64-bit hash ids violate the bound ~50% of the time, so
    // an unenforced precondition is the silent-bypass failure mode
    // this encoding set out to fix). Boundary: -2^62 itself is the
    // last safe id (·2 = Long.MinValue exactly) and must pass.
    val boundTrain = train.unionByName(
      Seq((-(1L << 62), mangled)).toDF("doc_id", "text"))
    assert(Curate.nearContamination(boundTrain, bench, minJaccard = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .contains((-(1L << 62), srcId)))
    Seq(1L << 62, Long.MinValue, Long.MaxValue).foreach { badId =>
      val badTrain = train.unionByName(
        Seq((badId, mangled)).toDF("doc_id", "text"))
      val e = intercept[Exception] {
        Curate.nearContamination(badTrain, bench, minJaccard = 0.4)
          .collect()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("parity-taggable")),
        s"id $badId must fail loudly, got: ${e.getMessage}")
    }
  }

  test("temperatureMix: rarest source kept whole; keep fractions track " +
      "(n_min/n)^(1-alpha); alpha=1 keeps everything") {
    val s = spark
    import s.implicits._
    // strictly skewed sources: s0 ~5/8, s1 ~2/8, s2 ~1/8 of docs
    val base = docs.select("doc_id", "text")
      .withColumn("source",
        when(col("doc_id") % 8 < 5, "s0")
          .when(col("doc_id") % 8 < 7, "s1").otherwise("s2"))
    val counts = base.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = counts.values.min
    val out = Curate.temperatureMix(base, alpha = 0.5)
    val keptBySrc = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the rarest source survives in full (keep fraction 1.0)
    val rarest = counts.minBy(_._2)._1
    assert(keptBySrc(rarest) == counts(rarest))
    // abundant sources are subsampled toward (n_min/n)^(1-alpha),
    // within md5-bucket sampling noise
    for ((src, n) <- counts if src != rarest) {
      val expect = math.pow(nMin.toDouble / n, 0.5)
      val got = keptBySrc.getOrElse(src, 0L).toDouble / n
      assert(math.abs(got - expect) < 0.15,
        s"$src keep=$got expected≈$expect")
      assert(keptBySrc(src) < n, s"$src should be subsampled")
    }
    // alpha = 1 is the natural distribution: everything kept
    assert(Curate.temperatureMix(base, alpha = 1.0).count() == base.count())
    // deterministic: same call, same kept set
    val again = Curate.temperatureMix(base, alpha = 0.5)
    assert(out.select("doc_id").exceptAll(again.select("doc_id")).count() == 0)
  }

  test("weightedSample: higher-weight rows oversampled vs uniform; " +
      "deterministic; zero Exchange in the plan") {
    val s = spark
    import s.implicits._
    // two weight classes: heavy (w=1000) vs light (w=10) — heavy rows
    // should dominate a k = n/5 sample
    val base = (0L until 1000L).map(i =>
      (i, if (i % 2 == 0) 1000 else 10)).toDF("doc_id", "w")
    val out = Curate.weightedSample(base, k = 200, weightCol = "w")
    assert(out.count() == 200)
    val heavy = out.filter(col("w") === 1000).count()
    assert(heavy > 150, s"heavy rows in sample: $heavy of 200")
    // deterministic across runs
    val again = Curate.weightedSample(base, k = 200, weightCol = "w")
    assert(out.exceptAll(again).count() == 0)
    // growing the corpus cannot flip an existing row's key (hash-keyed)
    val grown = base.unionByName(
      (2000L until 2100L).map(i => (i, 500)).toDF("doc_id", "w"))
    val keysBefore = out.select("doc_id", "sample_key").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val keysAfter = Curate.weightedSample(grown, k = 1100,
      weightCol = "w")
      .select("doc_id", "sample_key").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    keysBefore.foreach { case (id, key) =>
      assert(keysAfter(id) == key, s"key of $id changed on growth") }
    // global top-k plans as TakeOrdered — no Exchange anywhere
    val plan = Curate.weightedSample(base, k = 200, weightCol = "w")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(!plan.contains("Exchange"), plan.take(800))
  }

  test("hashSplit: deterministic, partition-stable, shares track weights") {
    val out = Curate.hashSplit(docs.select("doc_id"))
    val counts = out.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum.toDouble
    // every doc labeled, all three splits present, shares near weights
    assert(counts.keySet == Set("train", "val", "test"))
    assert(n == docs.count())
    assert(math.abs(counts("train") / n - 0.9) < 0.1)
    // stability: the assignment of a doc does not depend on which other
    // docs are in the frame (the anti-randomSplit property)
    val subset = Curate.hashSplit(docs.select("doc_id")
      .filter(col("doc_id") % 2 === 0))
    val full = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    subset.collect().foreach { r =>
      assert(full(r.getLong(0)) == r.getString(1))
    }
    // normalization: unnormalized weights give the same assignment
    val scaled = Curate.hashSplit(docs.select("doc_id"),
      weights = Seq("train" -> 18.0, "val" -> 1.0, "test" -> 1.0))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(scaled == full)
    // bad weights rejected
    intercept[IllegalArgumentException] {
      Curate.hashSplit(docs, weights = Seq("a" -> 1.0, "a" -> 1.0))
    }
    intercept[IllegalArgumentException] {
      Curate.hashSplit(docs, weights = Seq("a" -> 0.0))
    }
    // a weight below the 1/65536 hash granularity would silently get
    // no rows — rejected, like mixCorpus's granularity guard
    intercept[IllegalArgumentException] {
      Curate.hashSplit(docs, weights = Seq("a" -> 1.0, "b" -> 1e-9))
    }
  }

  test("sampleBySource: k per source, reservoir-stable under growth") {
    val out = Curate.sampleBySource(docs, k = 3).collect()
    out.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      assert(rows.length <= 3, src)
      assert(rows.map(_.getAs[Int]("sample_rank")).sorted.toSeq ==
        (1 to rows.length), src)
    }
    // reservoir property: on a SUBSET of the corpus, every sampled doc
    // that survived the subset keeps its relative order — removing
    // docs can only promote, never demote or re-deal
    val subset = Curate.sampleBySource(
      docs.filter(col("doc_id") % 3 =!= 0), k = 3).collect()
      .map(r => r.getAs[Long]("doc_id")).toSet
    val fullKeys = out.filter(r => r.getAs[Long]("doc_id") % 3 != 0)
      .map(_.getAs[Long]("doc_id")).toSet
    // all surviving members of the full sample are still sampled
    assert(fullKeys.subsetOf(subset))
  }

  test("qualityQuartiles: balanced bins per source, best docs in bin 1") {
    val out = Curate.qualityQuartiles(docs).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      val sizes = rows.groupBy(_.getAs[Int]("quartile"))
        .view.mapValues(_.length).toMap
      // ntile: bucket sizes differ by at most 1 and cover 1..4
      assert(sizes.keySet == (1 to math.min(4, rows.length)).toSet, src)
      assert(sizes.values.max - sizes.values.min <= 1, src)
      // ranking respects the rounded score: every bin-1 doc scores >=
      // every last-bin doc within the source (when both bins exist)
      if (sizes.contains(4)) {
        val q1min = rows.filter(_.getAs[Int]("quartile") == 1)
          .map(_.getAs[Double]("quality_score")).min
        val q4max = rows.filter(_.getAs[Int]("quartile") == 4)
          .map(_.getAs[Double]("quality_score")).max
        assert(q1min >= q4max, src)
      }
    }
  }

  test("sourceQuota: at most k per source, ranked by quality with id tiebreak") {
    val s = spark
    import s.implicits._
    val base = docs.select("doc_id", "text")
      .withColumn("source",
        concat(lit("s"), (col("doc_id") % 2).cast("string")))
    val out = Curate.sourceQuota(base, k = 3).collect()
    val bySource = out.groupBy(_.getString(1))
    assert(bySource.keySet == Set("s0", "s1"))
    bySource.values.foreach { rows =>
      assert(rows.length == 3)
      val sorted = rows.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == Seq(1, 2, 3))
      // scores non-increasing in rank; equal scores broken by smaller id
      sorted.sliding(2).foreach { case Array(a, b) =>
        val (qa, qb) = (a.getDouble(2), b.getDouble(2))
        assert(qa > qb || (qa == qb && a.getLong(0) < b.getLong(0)))
      }
    }
  }

  test("contamination: doc lifting a benchmark passage flagged; clean doc kept") {
    val s = spark
    import s.implicits._
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val bench = Seq((1L, benchText)).toDF("doc_id", "text")
    val train = Seq(
      (10L, "intro words here " + benchText + " and a trailing clause"),
      (11L, "a completely unrelated document with plenty of its own " +
        "fresh tokens that never echo the benchmark at all")
    ).toDF("doc_id", "text")
    val report = Curate.contamination(train, bench)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // bench has 10 tokens → 3 distinct 8-grams, all inside doc 10
    assert(report == Map(10L -> 3L))
    val kept = Curate.decontaminate(train, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L))
  }

  test("contamination: short benchmark item matches whole-sequence only") {
    val s = spark
    import s.implicits._
    val bench = Seq((1L, "france capital paris")).toDF("doc_id", "text")
    val train = Seq(
      // contains every benchmark WORD and even the phrase, but is a
      // long doc: its 8-grams never equal the short item's single gram
      (10L, "the capital of france is paris which every quiz about " +
        "france capital paris facts mentions sooner or later"),
      (11L, "france capital paris"), // identical short doc → flagged
      (12L, "france capital berlin") // short but different → kept
    ).toDF("doc_id", "text")
    val flagged = Curate.contamination(train, bench)
      .collect().map(_.getLong(0)).toSet
    assert(flagged == Set(11L))
  }

  test("decontaminateBloom: bit-identical to exact decontaminate, any fpp") {
    val bench = docs.filter(col("doc_id") % 41 === 0)
      .select("doc_id", "text")
    val train = docs.filter(col("doc_id") % 41 =!= 0)
      .select("doc_id", "text").unionByName(
        bench.select((col("doc_id") + lit(1000000L)).as("doc_id"),
          concat(lit("zz planted contamination prefix "), col("text"))
            .as("text")))
    val exact = Curate.decontaminate(train, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // tight and sloppy filters must agree with the exact path — false
    // positives only waste join probes, never change the output
    for (fpp <- Seq(0.01, 0.5)) {
      val bloom = Curate.decontaminateBloom(train, bench, fpp = fpp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(bloom == exact, s"fpp=$fpp diverged")
    }
    // the fixture is non-vacuous: every planted copy was dropped and
    // at least one real doc survives
    assert(exact.nonEmpty && !exact.exists(_ >= 1000000L))
  }

  test("splitContamination: counts leaked eval docs, cross-checked per doc") {
    // planted copies (new ids) of every 10th doc: whichever split the
    // md5 buckets assign, a copy/original pair straddling train and an
    // eval split is a leak the report must count
    val base = docs.select("doc_id", "text")
    val corpus = base.unionByName(
      base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(2000000L)).as("doc_id"), col("text")))
    val report = Curate.splitContamination(corpus)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(report.keySet == Set("val", "test"))
    // the planted fixture must be non-vacuous
    assert(report.values.map(_._2).sum > 0)
    report.values.foreach { case (n, c) => assert(c >= 0 && c <= n) }

    // per-doc cross-check through the independent contamination path:
    // eval docs sharing >= 1 gram with the train corpus
    val split = Curate.hashSplit(corpus)
    val train = split.filter(col("split") === "train")
      .select("doc_id", "text")
    val eval_ = split.filter(col("split") =!= "train")
    val leakedIds = Curate.contamination(
        eval_.select("doc_id", "text"), train)
      .select("doc_id")
    val expected = eval_.join(leakedIds, Seq("doc_id"), "left_semi")
      .groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(report.map { case (k, v) => k -> v._2 } ==
      Map("val" -> 0L, "test" -> 0L) ++ expected)
    // and totals reconcile with the split sizes
    val sizes = eval_.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(report.map { case (k, v) => k -> v._1 } == sizes)
  }

  test("globalShuffleOrder: a permutation of 0..n-1 matching md5 order") {
    val n = docs.count()
    val out = Curate.globalShuffleOrder(docs)
    assert(out.count() == n)
    val posStats = out.agg(min("pos"), max("pos"),
      countDistinct("pos")).head()
    assert(posStats.getLong(0) == 0L)
    assert(posStats.getLong(1) == n - 1)
    assert(posStats.getLong(2) == n)
    // equals the single-partition row_number formulation (viable at
    // test scale; the operator exists so production never runs it)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("shuffle_key"), col("doc_id"))
    val oracle = docs
      .withColumn("shuffle_key", md5(col("doc_id").cast("string")))
      .withColumn("pos", row_number().over(w).cast("long") - 1)
      .select("doc_id", "pos")
    assert(out.select("doc_id", "pos").exceptAll(oracle).count() == 0)
  }

  test("shufflePackBins: equals the single-partition-window reference") {
    val out = Curate.shufflePackBins(docs, binTokens = 512)
    // reference: the naive global-order window (viable at test scale;
    // the two-phase operator exists so production never plans it)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("shuffle_key"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val ref = docs
      .withColumn("shuffle_key", md5(col("doc_id").cast("string")))
      .withColumn("n_tokens",
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))))
      .withColumn("tokens_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin_id", (col("tokens_before") / 512).cast("long"))
      .withColumn("bin_offset", col("tokens_before") % 512)
      .select("doc_id", "shuffle_key", "n_tokens", "tokens_before",
        "bin_id", "bin_offset")
    assert(out.exceptAll(ref).count() == 0 && ref.exceptAll(out).count() == 0)
    // budget invariants: offsets bounded, totals reconcile
    assert(out.filter(col("bin_offset") < 0 ||
      col("bin_offset") >= 512).count() == 0)
    val total = out.agg(sum("n_tokens")).head().getLong(0)
    val lastEnd = out.agg(max(col("tokens_before") + col("n_tokens")))
      .head().getLong(0)
    assert(lastEnd == total)
  }

  test("globalShuffleOrder: engine-stable under repartitioning") {
    val a = Curate.globalShuffleOrder(docs)
    val b = Curate.globalShuffleOrder(docs.repartition(13))
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("tokenBudgetMix: hash-rank prefix within budget; never exceeds; " +
      "zero-budget and unlisted sources dropped; repartition-invariant") {
    val s = spark
    import s.implicits._
    val fix = Seq(
      (1L, "a", "one two three"),          // 3 tokens
      (2L, "a", "four five"),              // 2
      (3L, "a", "six seven eight nine"),   // 4
      (4L, "a", "ten"),                    // 1
      (5L, "b", "alpha beta"),             // 2 — budget 0
      (6L, "c", "gamma delta")             // 2 — unlisted
    ).toDF("doc_id", "source", "text")
    // brute-force reference: md5 hash-rank order, inclusive prefix sum
    def md5hex(v: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val toks = Map(1L -> 3L, 2L -> 2L, 3L -> 4L, 4L -> 1L)
    val ordered = toks.keys.toSeq.sortBy(id => (md5hex(id.toString), id))
    val running = ordered.scanLeft(0L)((acc, id) => acc + toks(id)).tail
    val budget = 6L
    val expectKept = ordered.zip(running)
      .filter(_._2 <= budget).map { case (id, t) => id -> t }.toMap
    assert(expectKept.nonEmpty && expectKept.size < 4,
      s"fixture must cut mid-source, got $expectKept") // non-vacuous
    val out = Curate.tokenBudgetMix(fix,
      Map("a" -> budget, "b" -> 0L)).collect()
    val got = out.map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == expectKept, s"got $got, expect $expectKept")
    assert(out.forall(_.getString(1) == "a"),
      "zero-budget and unlisted sources must drop entirely")
    // whole-source budget keeps everything, totals = cumulative sums
    val all = Curate.tokenBudgetMix(fix, Map("a" -> 1000L)).collect()
    assert(all.length == 4 &&
      all.map(_.getLong(3)).max == toks.values.sum)
    // partitioning must not change the kept set
    val re = Curate.tokenBudgetMix(fix.repartition(5),
      Map("a" -> budget, "b" -> 0L)).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(re == got)
  }

  test("contrastivePairs: deterministic bucketed negatives — correct " +
      "counts and ranks, never the anchor or an excluded partner, " +
      "repartition-invariant, locality under corpus growth") {
    val s = spark
    import s.implicits._
    // 120 docs; positives: (1,2) and (5,6); exclude additionally (1,7)
    val corpus = (0L until 120L).map(i => (i, s"doc text $i"))
      .toDF("doc_id", "text")
    val pos = Seq((1L, 2L), (5L, 6L)).toDF("anchor_id", "pos_id")
    val excl = Seq((1L, 2L), (5L, 6L), (1L, 7L)).toDF("id_a", "id_b")
    def run(df: org.apache.spark.sql.DataFrame, nb: Int = 4) =
      Curate.contrastivePairs(df, pos, Some(excl),
        negPerAnchor = 3, nBuckets = nb)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .toSet
    val out = run(corpus)
    // each (anchor, pos) example carries exactly 3 ranked negatives
    // (4 buckets over 120 docs => ~30 candidates per target bucket)
    assert(out.size == 6, s"got ${out.size}: $out")
    for ((a, _, n, _) <- out) {
      assert(n != a, s"anchor $a sampled itself")
      assert(!Set((1L, 2L), (5L, 6L), (1L, 7L)).contains((a, n)),
        s"excluded pair ($a,$n) sampled")
    }
    assert(out.groupBy(_._1).forall { case (_, rows) =>
      rows.map(_._4).toSeq.sorted == Seq(1, 2, 3) })
    // determinism: partitioning cannot move hash ranks
    assert(run(corpus.repartition(7)) == out)
    // locality: growing OTHER buckets leaves an anchor's negatives
    // alone unless the new docs land in its target bucket — verify by
    // recomputing with extra docs and checking the anchors whose
    // target bucket gained nothing are unchanged
    val hash = (v: String) => {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(v.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val tb1 = hash("1#neg") % 4 // anchor 1's target bucket
    val growth = (200L until 400L)
      .filter(i => hash(i.toString) % 4 != tb1).take(50)
      .map(i => (i, s"extra $i"))
    val out2 = run(corpus.unionByName(growth.toDF("doc_id", "text")))
    assert(out.filter(_._1 == 1L) == out2.filter(_._1 == 1L),
      "anchor 1 negatives moved although its target bucket gained " +
        "no documents")
  }

  test("attritionReport: funnel arithmetic chains and the final n_out " +
      "equals the pipeline's kept count") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val rows = Curate.attritionReport(docs).orderBy("stage_idx").collect()
    assert(rows.map(_.getAs[String]("stage")).toSeq ==
      Seq("quality", "language", "exact_dedup"))
    assert(rows.head.getAs[Long]("n_in") == docs.count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_out") ==
        r.getAs[Long]("n_in") - r.getAs[Long]("n_dropped"))
      assert(r.getAs[Long]("n_dropped") >= 0L)
    }
    assert(rows(0).getAs[Long]("n_out") == rows(1).getAs[Long]("n_in"))
    assert(rows(1).getAs[Long]("n_out") == rows(2).getAs[Long]("n_in"))
    assert(rows(2).getAs[Long]("n_out") == Curate(docs).count())
  }

  test("attritionReport: planted junk / foreign / duplicate docs are " +
      "charged to the right stages") {
    val s = spark
    import s.implicits._
    val good = "the cat sat on the mat and it was warm for this day " +
      "and that is all of it"
    val docs = Seq(
      (1L, good),                        // kept
      (2L, good),                        // exact duplicate -> dedup drop
      // German, salted with EN-stoplist collisions ("in", "was") so it
      // PASSES the quality gate and reaches — and fails — language-id
      (3L, "der hund war in dem haus und das war gut in der nacht " +
        "was ein zeichen in dem wald und das war alles in dem tag"),
      (4L, "1234 5678 9999 0000 !!!! ####")        // junk -> quality
    ).toDF("doc_id", "text")
    val rows = Curate.attritionReport(docs).orderBy("stage_idx").collect()
      .map(r => r.getAs[String]("stage") ->
        (r.getAs[Long]("n_in"), r.getAs[Long]("n_dropped"))).toMap
    assert(rows("quality") == ((4L, 1L)))
    assert(rows("language") == ((3L, 1L)))
    assert(rows("exact_dedup") == ((2L, 1L)))
  }
}
