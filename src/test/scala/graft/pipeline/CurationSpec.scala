package graft.pipeline

import graft.SparkSpec
import graft.operators.{CorpusOps, MixOps}
import org.apache.spark.sql.functions._

/** The curation library API: stage accounting, config knobs, and
  * equivalence with the oracle-checked q87 capstone at default config. */
class CurationSpec extends SparkSpec {

  private val dir = sf("sf0.001")
  private def docs = graft.Tables.load(spark, dir, "documents")

  test("default config reproduces the q87 capstone rollup exactly") {
    val (bins, _) = Curation.run(docs)
    val got = bins.groupBy(col("source"))
      .agg(count(lit(1)).as("n_bins"), sum(col("n_docs")).as("n_docs"),
        sum(col("sum_tokens")).as("sum_tokens"))
      .orderBy(col("source")).collect().map(_.toString)
    val want = CorpusOps.q87CurationPipeline.fn(spark, dir)
      .collect().map(_.toString)
    assert(got.toSeq === want.toSeq)
  }

  test("summary stages are consistent and conserve documents") {
    val (bins, s) = Curation.run(docs)
    assert(s.raw === docs.count())
    assert(s.gated <= s.raw)
    // survivors = gated minus the eight drop stages, then dedup
    val survivors = s.gated - s.boilerDropped - s.contaminatedDropped -
      s.perplexityDropped - s.dsirDropped - s.qualityDropped -
      s.semanticDropped - s.sampledOut - s.tempSampledOut
    assert(s.packedDocs <= survivors)
    assert(s.contaminatedDropped === 0L, "no benchmark set configured")
    assert(s.perplexityDropped === 0L, "no perplexity ceiling configured")
    assert(s.dsirDropped === 0L, "no DSIR target configured")
    assert(s.qualityDropped === 0L, "no quality exemplar configured")
    assert(s.semanticDropped === 0L, "no embeddings configured")
    assert(s.sampledOut === 0L, "default rate keeps everything")
    assert(s.tempSampledOut === 0L, "temperature balancing off by default")
    assert(s.bins === bins.count())
    assert(bins.agg(sum("n_docs")).collect().head.getLong(0) === s.packedDocs)
  }

  test("a benchmark gram set drops exactly the overlapping docs") {
    // probe doc: gated and non-boilerplate, so the contamination stage
    // (which runs after both) is what must catch it
    val boilerIds = CorpusOps.q81Boilerplate.fn(spark, dir)
      .filter(col("is_boilerplate")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val probeId = docs
      .filter(CorpusOps.gateKeep(col("text"), CorpusOps.GateRules()))
      .orderBy("doc_id").select("doc_id")
      .collect().map(_.getLong(0)).find(!boilerIds(_)).get
    val probe = CorpusOps.fiveGramsOf(docs.filter(col("doc_id") === probeId))
      .select(explode(col("shingles")).as("sh"))
    val (_, base) = Curation.run(docs)
    val (_, s) = Curation.run(docs,
      Curation.CurationConfig(benchmarkGrams = Some(probe)))
    assert(s.contaminatedDropped >= 1L, s"doc $probeId shares all its grams with the benchmark")
    assert(s.packedDocs < base.packedDocs)
  }

  test("a zero mixture rate removes a language entirely; summary accounts for it") {
    val (_, s) = Curation.run(docs,
      Curation.CurationConfig(mixtureRates = Map("zh" -> 0L)))
    // every gated non-boiler zh doc is sampled out
    val zhGated = docs.filter(col("lang") === "zh")
      .filter(CorpusOps.gateKeep(col("text"), CorpusOps.GateRules())).count()
    assert(s.sampledOut > 0L || zhGated === 0L)
    assert(s.sampledOut <= zhGated)
  }

  test("a perplexity ceiling drops the high-nll tail, monotonically in the ceiling") {
    val (_, base) = Curation.run(docs)
    // ceiling at the corpus median nll: roughly half the scored docs
    // are over it, so the gate must visibly bite
    val ceil = graft.operators.LmOps.avgNllOf(docs)
      .stat.approxQuantile("avg_nll", Array(0.5), 0.0).head
    val (_, strict) = Curation.run(docs,
      Curation.CurationConfig(maxAvgNll = Some(ceil)))
    assert(strict.perplexityDropped > 0L)
    assert(strict.packedDocs < base.packedDocs)
    val (_, loose) = Curation.run(docs,
      Curation.CurationConfig(maxAvgNll = Some(ceil + 1.0)))
    assert(loose.perplexityDropped <= strict.perplexityDropped)
    assert(base.perplexityDropped === 0L)
  }

  test("a DSIR target corpus drops the low-importance tail, monotonically in the floor") {
    val (_, base) = Curation.run(docs)
    val target = docs.filter(col("doc_id") % 10 === 3)
    // floor at the median importance weight of the raw slice: the
    // selection must visibly bite
    val floor = graft.operators.LmOps
      .dsirWeights(docs, target)
      .stat.approxQuantile("avg_logratio", Array(0.5), 0.0).head
    val (_, sel) = Curation.run(docs,
      Curation.CurationConfig(dsirTarget = Some(target), dsirFloor = floor))
    assert(sel.dsirDropped > 0L)
    assert(sel.packedDocs < base.packedDocs)
    val (_, loose) = Curation.run(docs,
      Curation.CurationConfig(dsirTarget = Some(target), dsirFloor = floor - 0.5))
    assert(loose.dsirDropped <= sel.dsirDropped)
    assert(base.dsirDropped === 0L)
  }

  test("temperature balancing flattens a skewed source mixture; smallest source untouched") {
    val skewed = docs.withColumn("source",
      when(col("doc_id") % 5 === 0, lit("small")).otherwise(lit("big")))
    val (_, base) = Curation.run(skewed)
    val (_, s) = Curation.run(skewed,
      Curation.CurationConfig(temperatureBalance = true))
    assert(base.tempSampledOut === 0L, "stage off by default")
    assert(s.tempSampledOut > 0L, "the 4x-larger source must lose docs")
    assert(s.packedDocs < base.packedDocs)
    // τ=0.5 closed form: small (n_min) keeps all, big (4·n_min) halves
    val th = graft.operators.SampleOps.temperatureThresholds(skewed)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(th("small") === 65536L)
    assert(th("big") === 32768L)
  }

  test("streaming temperature stage drops exactly the above-threshold coins") {
    import spark.implicits._
    val skewed = docs.withColumn("source",
      when(col("doc_id") % 5 === 0, lit("small")).otherwise(lit("big")))
    val th = graft.operators.SampleOps.temperatureThresholds(skewed)
    val seen = Seq.empty[String].toDF("file_hash")
    val base = Curation.curateBatch(skewed, Curation.StreamCurationConfig(), seen)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val tempd = Curation.curateBatch(skewed,
        Curation.StreamCurationConfig(temperatureThresholds = Some(th)), seen)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tempd.subsetOf(base))
    // recompute the drop set straight from the coin rule (corpus has
    // no exact-dup texts, so canonical selection is the identity here)
    val dropExpected = skewed.select(col("doc_id"), col("source"),
        expr("cast(conv(substr(sha2(text, 256), 5, 4), 16, 10) as bigint)").as("coin"))
      .join(th.select("source", "thresh"), Seq("source"))
      .filter(col("coin") >= col("thresh"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(tempd === base -- dropExpected)
  }

  test("a quality exemplar corpus drops the low-probability tail, monotonically in the floor") {
    val (_, base) = Curation.run(docs)
    val target = docs.filter(col("doc_id") % 10 === 3)
    // floor at the median predicted quality of the full corpus
    val scorer = graft.ml.VectorML.fitQualityFilter(
      docs.join(target.select(col("doc_id")), Seq("doc_id"), "left_anti"), target)
    val floor = scorer(docs)
      .stat.approxQuantile("quality", Array(0.5), 0.0).head
    val (_, strict) = Curation.run(docs, Curation.CurationConfig(
      qualityTarget = Some(target), qualityFloor = floor))
    assert(strict.qualityDropped > 0L)
    assert(strict.packedDocs < base.packedDocs)
    val (_, loose) = Curation.run(docs, Curation.CurationConfig(
      qualityTarget = Some(target), qualityFloor = floor / 2))
    assert(loose.qualityDropped <= strict.qualityDropped)
    assert(base.qualityDropped === 0L)
  }

  test("NB classifier stage drops exactly the below-floor q170 scores, off by default") {
    val (_, base) = Curation.run(docs)
    assert(base.nbDropped === 0L)
    val seeds = Seq("src0", "src1", "src2")
    // floor at the median score so the stage bites
    val scores = graft.operators.ClassifierOps.nbQualityOf(docs, seeds)
    val floor = scores.stat.approxQuantile("quality_lr", Array(0.5), 0.0).head
    val (_, on) = Curation.run(docs, Curation.CurationConfig(
      nbSeedSources = seeds, nbFloor = floor))
    assert(on.nbDropped > 0L)
    assert(on.packedDocs < base.packedDocs)
    // the stage's verdict is exactly the operator's: every dropped doc
    // scores below the floor among gate survivors
    val below = scores.filter(col("quality_lr") < floor).count()
    assert(on.nbDropped <= below,
      "stage can only drop docs the classifier flagged")
    // monotone in the floor
    val (_, loose) = Curation.run(docs, Curation.CurationConfig(
      nbSeedSources = seeds, nbFloor = floor - 0.05))
    assert(loose.nbDropped <= on.nbDropped)
  }

  test("semantic dedup stage drops exactly semDedup's flag set") {
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val (_, base) = Curation.run(docs)
    val (_, sem) = Curation.run(docs, Curation.CurationConfig(
      semanticEmbeddings = Some(emb)))
    // recompute the flag set with the same deterministic k-means
    // (seed is fixed) — the stage must drop exactly the flagged docs
    // that survive every earlier stage; with the default config no
    // earlier optional stage is on, so the upper bound is the full set
    val e = emb.select(col("doc_id").as("vec_id"), col("embedding"))
    val cents = graft.ml.VectorML.trainCentroids(e, "embedding", 8)
      .select(col("cid").cast("long").as("cid"), col("cv").as("cvec"))
    val flagged = MixOps.semDedup(e, cents, 0.35)
      .filter(col("is_dup")).count()
    assert(sem.semanticDropped > 0L, "testdata has planted near-dups; some must drop")
    assert(sem.semanticDropped <= flagged)
    assert(base.semanticDropped === 0L)
    assert(sem.packedDocs <= base.packedDocs)
  }

  test("prototype pruning drops the q175 quota between dedup and packing, deterministically") {
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val (_, base) = Curation.run(docs)
    assert(base.protoDropped === 0L, "stage is off by default")
    val cfg = Curation.CurationConfig(
      semanticEmbeddings = Some(emb), prototypePrune = true)
    val (bins1, on) = Curation.run(docs, cfg)
    assert(on.protoDropped > 0L, "clusters of >= 5 embedded survivors must lose their fifth")
    assert(on.packedDocs < base.packedDocs)
    // the quota is exact: recompute the q175 flags over the same
    // survivor set (the exact-integer Lloyd is deterministic — hash
    // seeds, integer arithmetic — so the stage must reproduce it)
    assert(on.protoDropped <= base.packedDocs / 5 + 8,
      "per-cluster integer fifths cannot exceed a fifth of the pool plus k remainders")
    // composes idempotently: the same config re-run yields the same
    // bins and the same counts (no hidden randomness in the stage)
    val (bins2, on2) = Curation.run(docs, cfg)
    assert(on2 === on)
    val b1 = bins1.collect().map(_.toString).sorted
    val b2 = bins2.collect().map(_.toString).sorted
    assert(b1.sameElements(b2), "re-running the pipeline must reproduce identical bins")
    // requires embeddings
    intercept[IllegalArgumentException] {
      Curation.run(docs, Curation.CurationConfig(prototypePrune = true))
    }
  }

  test("semanticWhiten: the whitened stage still finds near-dups; summary stays conserved") {
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    // planted exact/near duplicates survive whitening: W is a linear
    // map, so identical vectors stay identical and the whitened dot
    // of a vector with itself is its squared norm (> threshold)
    val (_, white) = Curation.run(docs, Curation.CurationConfig(
      semanticEmbeddings = Some(emb), semanticWhiten = true))
    assert(white.semanticDropped > 0L,
      "whitened SemDeDup must still catch planted near-identical pairs")
    // conservation: stage counts still partition the corpus
    assert(white.raw === docs.count())
    assert(white.gated <= white.raw)
  }

  test("minCharEntropy gate: a repeated-character doc is cut only when the floor is on") {
    import spark.implicits._
    val junk = (("the a " + "zzzzzzzz " * 20).trim, "junk")
    val fine = ("the quick brown fox jumps over a lazy dog near the old river bank today", "fine")
    val d = Seq(junk, fine).toDF("text", "tag")
    val without = d.filter(graft.operators.CorpusOps.gateKeep(col("text"),
      Curation.GateRules())).select(col("tag")).collect().map(_.getString(0)).toSet
    val withFloor = d.filter(graft.operators.CorpusOps.gateKeep(col("text"),
      Curation.GateRules(minCharEntropy = Some(3.0)))).select(col("tag"))
      .collect().map(_.getString(0)).toSet
    assert(without === Set("junk", "fine"), "both pass the word-level rules")
    assert(withFloor === Set("fine"), "the entropy floor must cut exactly the junk doc")
  }

  test("all optional stages compose: counts stay consistent with every knob on") {
    val probe = CorpusOps.fiveGramsOf(docs.limit(1))
      .select(explode(col("shingles")).as("sh"))
    val target = docs.filter(col("doc_id") % 10 === 3)
    val ceil = graft.operators.LmOps.avgNllOf(docs)
      .stat.approxQuantile("avg_nll", Array(0.75), 0.0).head
    val floor = graft.operators.LmOps.dsirWeights(docs, target)
      .stat.approxQuantile("avg_logratio", Array(0.25), 0.0).head
    val qScorer = graft.ml.VectorML.fitQualityFilter(
      docs.join(target.select(col("doc_id")), Seq("doc_id"), "left_anti"), target)
    val qFloor = qScorer(docs)
      .stat.approxQuantile("quality", Array(0.25), 0.0).head
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val (bins, s) = Curation.run(docs, Curation.CurationConfig(
      benchmarkGrams = Some(probe),
      maxAvgNll = Some(ceil),
      dsirTarget = Some(target),
      dsirFloor = floor,
      qualityTarget = Some(target),
      qualityFloor = qFloor,
      semanticEmbeddings = Some(emb),
      mixtureRates = Map("zh" -> 10L),
      temperatureBalance = true))
    // stage accounting still conserves documents under full composition
    val survivors = s.gated - s.boilerDropped - s.contaminatedDropped -
      s.perplexityDropped - s.dsirDropped - s.qualityDropped -
      s.semanticDropped - s.sampledOut - s.tempSampledOut
    assert(survivors >= 0L)
    assert(s.packedDocs <= survivors)
    assert(s.bins === bins.count())
    assert(bins.agg(sum("n_docs")).collect().head.getLong(0) === s.packedDocs)
    // the composed knobs collectively bite (per-stage sensitivity is
    // covered by the single-knob tests above; under composition an
    // earlier stage may claim a later stage's doc)
    assert(s.contaminatedDropped + s.perplexityDropped + s.dsirDropped +
      s.qualityDropped + s.sampledOut + s.tempSampledOut >= 1L)
    assert(s.packedDocs < Curation.run(docs)._2.packedDocs)
  }

  test("streaming curation over 3 incremental micro-batches equals one batch run") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType)))
    val base = java.nio.file.Files.createTempDirectory("graft-stream-cur").toString
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()

    // 90 real docs in doc_id order + a cross-batch duplicate: the last
    // batch re-ingests batch 1's first text under a fresh high doc_id,
    // so only the accumulated HISTORY can reject it
    val rows = docs.select(col("doc_id"), col("text"), col("lang"), col("source"))
      .orderBy(col("doc_id")).limit(90).collect()
    val dup = Row(99990L, rows(0).getString(1), rows(0).getString(2),
      rows(0).getString(3))
    val batches = Seq(rows.slice(0, 30).toSeq, rows.slice(30, 60).toSeq,
      rows.slice(60, 90).toSeq :+ dup)
    val full = spark.createDataFrame(batches.flatten.asJava, schema)

    // offline artifacts trained once on the full corpus (the CCNet
    // discipline), shared verbatim by the batch reference and the stream
    val monitor = new graft.streaming.HeavyHitters.Monitor(10000)
    val compMon = new graft.streaming.CompositionMonitor
    val quantMon = new graft.streaming.QuantileMonitor
    val cfg = Curation.StreamCurationConfig(
      frequentGrams = Some(Curation.frequentGramsOf(full)),
      lmModel = Some(graft.operators.LmOps.trainLm(full)),
      maxAvgNll = graft.operators.LmOps.avgNllOf(full)
        .stat.approxQuantile("avg_nll", Array(0.75), 0.0).head,
      mixtureRates = Map("zh" -> 50L),
      heavyHitters = Some(monitor),
      composition = Some(compMon),
      quantiles = Some(quantMon))
    val wantRows = Curation.curateBatch(full, cfg, {
      import spark.implicits._
      Seq.empty[String].toDF("file_hash")
    }).collect()
    val want = wantRows.map(_.getAs[Long]("doc_id")).toSet
    assert(want.nonEmpty, "batch reference kept nothing — thresholds too strict")

    // stream: one new json file per run, same checkpoint — each
    // AvailableNow pass processes exactly the unseen file (T1/T2)
    batches.zipWithIndex.foreach { case (b, i) =>
      val tmp = s"$base/tmp$i"
      spark.createDataFrame(b.asJava, schema)
        .coalesce(1).write.mode("overwrite").json(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.startsWith("part-")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$srcDir/batch$i.json"))
      Curation.runStream(
        graft.streaming.EventStreams.incrementalFiles(spark, srcDir, schema),
        cfg, s"$base/ckpt", s"$base/out", s"$base/hist")
    }
    val got = spark.read.parquet(s"$base/out")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got === want,
      s"stream/batch diverge: stream-only=${(got -- want).take(5)}, " +
        s"batch-only=${(want -- got).take(5)}")
    // the re-ingested duplicate was rejected by cross-batch history
    assert(!got.contains(99990L), "history failed to reject the re-ingested dup")

    // the heavy-hitter monitor accumulated across the 3 micro-batches:
    // with k far above the vocabulary no eviction fires, so the merged
    // O(k) state must equal the EXACT token counts of the survivors
    val exact = wantRows.flatMap(_.getAs[String]("text")
        .toLowerCase.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val gotHh = monitor.summary.toMap
    assert(gotHh === exact, "cross-batch monitor diverged from exact counts")

    // the composition monitor folded the 3 micro-batches by int64
    // addition: its per-source token-mass grid must equal the one-shot
    // q222/q229 grid over the survivors BIT-FOR-BIT (batch-split
    // equality through the runStream path, not just the monitor spec)
    val exactMass = wantRows
      .map(r => (r.getAs[String]("source"),
        r.getAs[String]("text").toLowerCase.trim.split("\\s+")
          .count(_.nonEmpty).toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(compMon.massGrid === exactMass,
      "cross-batch composition grid diverged from the one-shot grid")

    // the quantile monitor's folded bottom-k state: with the survivor
    // count under K per source, the "sample" is the exact value set —
    // its sorted per-source lengths must equal the survivors' exactly
    // (batch-split equality through the runStream path; idempotent
    // min-k merge means the stream's revisits cannot have corrupted it)
    val exactLens = wantRows
      .map(r => (r.getAs[String]("source"),
        r.getAs[String]("text").length.toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(quantMon.sampleGrid === exactLens,
      "cross-batch quantile sketch diverged from the exact value sets")
  }

  test("URL pre-gate: blocklist + per-domain cap drop first and are accounted") {
    import graft.operators.UrlOps
    val withUrl = docs.withColumn("url",
      concat(lit("https://WWW."), col("source"), lit("-x.COM/d/"),
        col("doc_id").cast("string")))
    val (_, base) = Curation.run(withUrl)
    assert(base.urlDropped === 0L, "gate off must not drop")

    val cfg = Curation.CurationConfig(urlColumn = Some("url"),
      domainCap = 5L, domainBlocklist = Seq("src0-x.com"))
    val (_, s) = Curation.run(withUrl, cfg)
    val wantDrops = UrlOps.domainDrops(withUrl, col("url"), 5L,
      Seq("src0-x.com")).count()
    assert(wantDrops > 0, "fixture must exercise both rules")
    assert(s.urlDropped === wantDrops)
    assert(s.raw === base.raw)
    assert(s.gated <= base.gated, "url-dropped docs can't reach the text gate")
    // survivor accounting still closes under the new first stage
    val survivors = s.gated - s.boilerDropped - s.contaminatedDropped -
      s.perplexityDropped - s.dsirDropped - s.qualityDropped -
      s.semanticDropped - s.sampledOut - s.tempSampledOut
    assert(s.packedDocs <= survivors)
  }

  test("streamBatch replay is idempotent wherever the crash landed") {
    val base = java.nio.file.Files.createTempDirectory("graft-replay").toString
    val out = s"$base/out"; val hist = s"$base/hist"
    val cfg = Curation.StreamCurationConfig()
    val rows = docs.select(col("doc_id"), col("text"), col("lang"), col("source"))
      .orderBy(col("doc_id")).limit(40)
    val b0 = rows.filter(col("doc_id") < 20)
    val b1 = rows.filter(col("doc_id") >= 20)

    Curation.streamBatch(b0, cfg, 0L, out, hist)
    Curation.streamBatch(b1, cfg, 1L, out, hist)
    def snap(): Seq[String] = spark.read.parquet(out)
      .select(col("doc_id"), col("file_hash"))
      .collect().map(_.toString).sorted.toSeq
    val want = snap()
    assert(want.nonEmpty)

    // redelivery AFTER both writes landed (checkpoint commit lost):
    // batch 1's own history partition must not anti-join away its rows
    Curation.streamBatch(b1, cfg, 1L, out, hist)
    assert(snap() === want, "full replay changed the output")

    // crash BETWEEN the two writes: history landed, output lost —
    // replay must restore the output partition, not drop the batch
    def rmr(p: String): Unit = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    }
    rmr(s"$out/batch_id=1")
    Curation.streamBatch(b1, cfg, 1L, out, hist)
    assert(snap() === want, "replay after output loss diverged")
  }

  test("packing sub-shard knob with S beyond every doc_id reproduces the default bins") {
    val (bins, _) = Curation.run(docs)
    val (subBins, _) = Curation.run(docs,
      Curation.CurationConfig(packDocsPerSubShard = Some(10_000_000L)))
    assert(subBins.orderBy(col("source"), col("bin")).collect().map(_.toString).toSeq ===
      bins.orderBy(col("source"), col("bin")).collect().map(_.toString).toSeq)
  }

  test("stricter gates can only shrink the packed corpus") {
    val (_, loose) = Curation.run(docs)
    val (_, strict) = Curation.run(docs,
      Curation.CurationConfig(gates = Curation.GateRules(minWords = 50)))
    assert(strict.gated <= loose.gated)
    assert(strict.packedDocs <= loose.packedDocs)
  }

  test("lineDedup stage: cut segments are accounted, token mass shrinks, off by default") {
    val (bins, base) = Curation.run(docs)
    assert(base.lineSegmentsCut === 0L, "stage must be off by default")
    val (ldBins, ld) = Curation.run(docs,
      Curation.CurationConfig(lineDedup = true))
    // this corpus carries implanted duplicates (q98/q107 prove it), so
    // the stage must actually cut — and only ever shrink the corpus
    assert(ld.lineSegmentsCut > 0L, "no segments cut on a corpus with known dups")
    assert(ld.packedDocs <= base.packedDocs)
    def toks(b: org.apache.spark.sql.DataFrame) =
      b.agg(sum(col("sum_tokens"))).collect().head.getLong(0)
    assert(toks(ldBins) < toks(bins), "cut segments must remove token mass")
    // every earlier stage is untouched by a packing-side rewrite
    assert((ld.raw, ld.gated, ld.boilerDropped, ld.contaminatedDropped) ===
      ((base.raw, base.gated, base.boilerDropped, base.contaminatedDropped)))
  }

  test("gate-driven family auto-selection flips between the fixed and heaps corpora") {
    // the fixture pair the r13 scale decade measured: the fixed
    // 31-token corpus saturates the 64-bit block space (the cheapest
    // rung's gate refuses) while the growing-vocabulary corpus keeps
    // it affordable — the policy must pick a CHEAPER ladder rung on
    // heaps than on fixed, with every evaluated verdict recorded
    val fixed = graft.ScaleBench.genDocs(spark, 5000L)
    val heaps = graft.ScaleBench.genDocsHeaps(spark, 5000L)
    val (fFam, fVerdicts) = graft.operators.DedupOps.selectDedupFamily(fixed)
    val (hFam, hVerdicts) = graft.operators.DedupOps.selectDedupFamily(heaps)
    val ladder = graft.operators.DedupOps.FamilyLadder
    assert(hFam.isDefined, s"heaps corpus must afford SOME family: $hVerdicts")
    // heaps affords the cheapest rung outright
    assert(hFam.contains(ladder.head),
      s"heaps should pick the cheapest rung, got $hFam ($hVerdicts)")
    // fixed refuses it — the flip — and records the refusal
    assert(fFam !== hFam, s"no flip: fixed=$fFam heaps=$fVerdicts")
    assert(fVerdicts.head._1 === ladder.head && fVerdicts.head._2 === "refuse",
      s"fixed must evaluate and refuse the cheapest rung first: $fVerdicts")
    // evaluation stops at the pick: verdict lists are prefix-shaped
    assert(hVerdicts.map(_._1) === ladder.take(hVerdicts.length))
    assert(fVerdicts.map(_._1) === ladder.take(fVerdicts.length))
    fFam.foreach(f => assert(fVerdicts.last._1 === f && fVerdicts.last._2 === "ok"))
  }

  test("nearDupFamily wiring: near-dup pair's larger doc drops, summary records family and verdicts") {
    import spark.implicits._
    // doc 2 is doc 1 with one token changed → SimHash Hamming tiny →
    // a near-dup pair at every signature rung; doc 3 unrelated
    val base = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val tweaked = base.replace("alpha7", "beta7")
    val tiny = Seq(
      (1L, base, "en", "s0"), (2L, tweaked, "en", "s0"),
      (3L, (100 to 140).map(i => s"zz$i").mkString(" "), "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    // the synthetic tokens carry no stopwords — open the gate so the
    // fixture tests the near-dup stage, not the quality gate
    val openGate = Curation.GateRules(minWords = 1, minStopwords = 0,
      minAlphaFrac = 0.0)
    val (_, off) = Curation.run(tiny,
      Curation.CurationConfig(gates = openGate))
    assert(off.nearDupDropped === 0L && off.nearDupFamilyUsed === "none",
      "stage must be off by default")
    val (_, on) = Curation.run(tiny,
      Curation.CurationConfig(gates = openGate,
        nearDupFamily = Some("simhash")))
    assert(on.nearDupDropped === 1L, s"expected the near-dup to drop: $on")
    assert(on.nearDupFamilyUsed === "simhash")
    assert(on.nearDupGateVerdicts === Seq(("simhash", "ok",
      on.nearDupGateVerdicts.head._3)))
    assert(on.packedDocs === off.packedDocs - 1)
    // auto on the tiny fixture: picks the cheapest rung, same outcome
    val (_, auto) = Curation.run(tiny,
      Curation.CurationConfig(gates = openGate,
        nearDupFamily = Some("auto")))
    assert(auto.nearDupDropped === 1L)
    assert(auto.nearDupFamilyUsed ===
      graft.operators.DedupOps.FamilyLadder.head)
  }

  test("containment stage: subset dups the resemblance ladder misses drop the smaller side") {
    import spark.implicits._
    // doc 2 is a contiguous 15-token slice of doc 1: every one of its
    // shingles is in doc 1 (containment 1.0) but Jaccard is ~13/58 —
    // far below every resemblance family's 0.8 threshold, the exact
    // bias q241's note names; doc 3 unrelated
    val big = (1 to 60).map(i => s"tok$i").mkString(" ")
    val small = (20 to 34).map(i => s"tok$i").mkString(" ")
    val other = (200 to 260).map(i => s"qq$i").mkString(" ")
    val tiny = Seq(
      (1L, big, "en", "s0"), (2L, small, "en", "s0"), (3L, other, "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val openGate = Curation.GateRules(minWords = 1, minStopwords = 0,
      minAlphaFrac = 0.0)
    // the full ladder runs and catches NOTHING (the fixture's point)...
    val (_, ladderOnly) = Curation.run(tiny, Curation.CurationConfig(
      gates = openGate, nearDupFamily = Some("auto")))
    assert(ladderOnly.nearDupDropped === 0L,
      s"fixture broken: the ladder caught the subset pair: $ladderOnly")
    assert(ladderOnly.containmentGateVerdict === "off",
      "stage must be off by default")
    // ...the containment stage recalls the pair and drops the SMALL doc
    val (_, withStage) = Curation.run(tiny, Curation.CurationConfig(
      gates = openGate, nearDupFamily = Some("auto"), containmentStage = true))
    assert(withStage.containmentDropped === 1L, s"$withStage")
    assert(withStage.containmentGateVerdict === "ok")
    assert(withStage.packedDocs === ladderOnly.packedDocs - 1)
    assert(withStage.nearDupDropped === 0L)
  }
}
