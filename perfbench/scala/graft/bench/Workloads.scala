package graft.bench

import java.io.File

import scala.util.Try

import graft.SparkEntry
import graft.kernel.{Extractor, PdfParse, ProbeConfig}
import graft.ops.Dedup
import graft.pipeline.{CurateConfig, CurateJob, CurateStats, ExtractJob, ExtractStats, JobConfig}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** What the output hash covers, computed straight from `Extractor`. */
final case class Expect(url: String, doc_kind: String, status: String,
    pages: Array[Int], extracted_text: String)

/** Shared helpers: output digests, one-row rewrites, the kernel probe. */
object Common {
  /** Order-independent digest: row count and the exact sum of a 64-bit
    * hash of (url, doc_kind, status, pages, extracted_text). */
  val hashSum = sum(xxhash64(col("url"), col("doc_kind"), col("status"), col("pages"),
    col("extracted_text")).cast("decimal(38,0)"))

  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)), hashSum).first()
    (r.getLong(0), r.getDecimal(1))
  }

  def longs(r: Row): Seq[Long] =
    (0 until r.length).map(i => if (r.isNullAt(i)) 0L else r.getAs[Number](i).longValue)

  /** Rewrites the parquet table at `path` through `f` (a one-row edit). */
  def rewrite(ctx: Ctx, path: String, partitionBy: Seq[String])(f: DataFrame => DataFrame): Unit = {
    val tmp = path + ".tmp"
    val w = f(ctx.spark.read.parquet(path)).write.mode("overwrite")
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*)).parquet(tmp)
    Main.deleteTree(new File(path))
    new File(tmp).renameTo(new File(path))
  }

  def firstUrl(df: DataFrame): String = df.agg(min(col("url"))).first().getString(0)

  def fileCount(dir: File, suffix: String): Long =
    if (dir.isDirectory) Option(dir.listFiles()).map(_.map(fileCount(_, suffix)).sum).getOrElse(0L)
    else if (dir.getName.endsWith(suffix)) 1L else 0L

  /** Synth kind (idx % 10) of a row, from the index its url ends with. */
  def synthKind(url: String): Long = url.substring(url.lastIndexOf('/') + 1).toLong % 10

  /** Payload kind of a Synth row. */
  def kindOf(url: String, bytes: Array[Byte]): String =
    synthKind(url) match {
      case k if k <= 6 => "html"
      case 7 => if (bytes != null && PdfParse.isRealPdf(bytes)) "pdf_real" else "pdf_structured"
      case 8 => "pdf_scanned"
      case _ => "error"
    }

  /** Single-threaded `Extractor.extract` over up to `perKind` of the
    * workload's own payloads of each kind: median µs/doc over timed passes
    * after one warm-up pass. */
  def kernelProbe(ctx: Ctx, pages: DataFrame, perKind: Int = 100): Map[String, Double] = {
    import ctx.spark.implicits._
    val urls = pages.select(col("url")).as[String].collect()
    val pick = urls.groupBy(synthKind).values.flatMap(_.sorted.take(perKind)).toSeq
    val rows = pages.filter(col("url").isin(pick: _*))
      .select(col("url"), col("html")).as[(String, Array[Byte])].collect()
    rows.groupBy { case (u, b) => kindOf(u, b) }.map { case (kind, rs) =>
      val ex = new Extractor(ProbeConfig())
      val us = ctx.tracer.span(s"Extractor.extract $kind", "kernel") {
        rs.foreach(r => ex.extract(r._2))
        val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
        val t0 = System.nanoTime()
        while (passes.size < 3 || System.nanoTime() - t0 < 300000000L) {
          val (_, s) = ctx.time(rs.foreach(r => ex.extract(r._2)))
          passes += s * 1e6 / rs.length
        }
        Main.median(passes.toSeq)
      }
      s"kernel.us_per_doc.$kind" -> us
    }
  }

  /** Repeats `body` three times and returns the median seconds. */
  def timed3(ctx: Ctx, name: String, layer: String)(body: => Any): Double =
    Main.median((0 until 3).map(_ => ctx.tracer.span(name, layer)(ctx.time(body)._2)))

  /** Jobs grouped by call site, in order of first submission. */
  def bySite(jobs: Seq[JobRec]): Seq[(String, Seq[JobRec])] = {
    val sorted = jobs.sortBy(_.id)
    sorted.map(_.callSite).distinct.map(s => s -> sorted.filter(_.callSite == s))
  }

  def wall(js: Seq[JobRec]): Double = js.map(j => (j.endMs - j.startMs) / 1e3).sum
}

/** A crawl through both pipelines: Synth pages of every payload kind (plus
  * planted one-word near-duplicates) through `ExtractJob.run`, then the
  * committed extraction output through `CurateJob.run`. */
final class PipelineWorkload(ctx: Ctx, n: Long) extends Workload {
  import ctx.spark
  import spark.implicits._
  private val parts = 3 * ctx.nproc
  // output buckets sized to the input (4 per core) instead of the 64-bucket
  // crawl-scale defaults, which would write ~64 files per ~3 docs here
  private val jobCfg = JobConfig(buckets = 4 * ctx.nproc)
  private val curateCfg = CurateConfig(buckets = 4 * ctx.nproc)
  private var input: DataFrame = _
  private var expected: (Long, java.math.BigDecimal) = _
  private var rows, payload = 0L
  private var reference: Option[Map[String, Long]] = None
  private var recall = 0.0

  def docs: Long = rows
  def inputBytes: Long = payload

  def setup(dir: String): Unit =
    Inputs.curateCorpus(spark, ctx.seed, n, parts).write.mode("overwrite").parquet(dir)

  def load(dir: String): Unit = {
    input = spark.read.parquet(dir)
    val r = Common.longs(input.agg(count(lit(1)), sum(length(col("html")))).first())
    rows = r(0); payload = r(1)
  }

  /** Digests what `Extractor` alone makes of the generated pages: the
    * reference for the output hash. */
  override def prepare(): Unit = {
    val cfg = jobCfg.probe
    expected = Common.digest(Inputs.curateCorpus(spark, ctx.seed, n, parts).mapPartitions { it =>
      val ex = new Extractor(cfg)
      it.map { p =>
        val d = ex.extract(p.html)
        Expect(p.url, d.docKind, d.status, d.pages.toArray, d.extractedText)
      }
    }.toDF())
  }

  def op(out: String): (Any, Int) = {
    val es = ctx.tracer.span("ExtractJob.run", "pipeline.extract")(
      ExtractJob.run(spark, input, s"$out/extract", jobCfg))
    val cs = ctx.tracer.span("CurateJob.run", "pipeline.curate")(
      CurateJob.run(spark, ExtractJob.readDocs(spark, s"$out/extract"),
        "url", "extracted_text", "lang", s"$out/curate", curateCfg))
    ((es, cs), 0)
  }

  private val Agg = Seq(count(lit(1)), sum(col("total_pages")), sum(col("ocr_page_count")),
    sum(when(length(col("extracted_text")) === 0, 1L).otherwise(0L)),
    sum(col("bytes_in")), sum(col("bytes_out")))

  private def verdicts(out: String): Map[String, Long] =
    spark.read.parquet(s"$out/curate/verdicts").groupBy("verdict").count()
      .as[(String, Long)].collect().toMap

  /** Share of planted pairs where one side got the near_dup verdict. */
  private def plantedRecall(out: String): Double = {
    val pairs = Inputs.plantedPairs(ctx.seed, n).toDF("a", "b")
      .select(xxhash64(col("a")).as("ia"), xxhash64(col("b")).as("ib"))
    val v = spark.read.parquet(s"$out/curate/verdicts").select(col("doc_id"), col("verdict"))
    val r = Common.longs(pairs.join(v.toDF("ia", "va"), "ia").join(v.toDF("ib", "vb"), "ib")
      .agg(count(lit(1)), sum(when(col("va") === "near_dup" || col("vb") === "near_dup", 1L)
        .otherwise(0L))).first())
    r(1).toDouble / math.max(1L, r(0))
  }

  def check(out: String, res: Any): Seq[(String, Boolean)] = {
    val (s, cs) = res.asInstanceOf[(ExtractStats, CurateStats)]
    val stats = Seq(s.docs, s.pages, s.ocrNeeded, s.emptyExtractions, s.bytesIn, s.bytesOut)
    val lineage = Common.longs(ExtractJob.readLineage(spark, s"$out/extract").agg(sum("docs"),
      sum("pages"), sum("ocr_needed"), sum("empty_extractions"), sum("bytes_in"),
      sum("bytes_out")).first())
    // one pass over the committed docs: the lineage aggregates and the digest
    val r = ExtractJob.readDocs(spark, s"$out/extract")
      .agg(Agg.head, Agg.tail :+ Common.hashSum: _*).first()
    val fromDocs = Common.longs(Row.fromSeq(r.toSeq.init))
    val c = verdicts(out)
    if (reference.isEmpty) { reference = Some(c); recall = plantedRecall(out) }
    val kept = c.getOrElse("kept", 0L)
    Seq("extract.doc_count" -> (fromDocs.head == rows),
      "extract.stats_lineage_docs" -> (stats == lineage && lineage == fromDocs),
      "extract.output_hash" -> ((fromDocs.head, r.getDecimal(Agg.size)) == expected),
      "curate.stats_eq_verdicts" ->
        (cs.input == c.values.sum && cs.kept == kept && cs.drops == c - "kept"),
      "curate.same_across_reps" -> reference.contains(c),
      "curate.curated_eq_kept" ->
        (spark.read.parquet(s"$out/curate/curated").count() == kept),
      "curate.verdict_per_doc" -> (c.values.sum == rows))
  }

  override def corruptions(out: String): Seq[(String, String => Unit)] = {
    def edit(f: (DataFrame, String) => DataFrame)(copy: String): Unit =
      Common.rewrite(ctx, s"$copy/extract/docs", Seq("bucket")) { d => f(d, Common.firstUrl(d)) }
    def flip(copy: String): Unit = Common.rewrite(ctx, s"$copy/curate/verdicts", Nil) { v =>
      val id = v.filter(col("verdict") === "kept").agg(min("doc_id")).first().getLong(0)
      v.withColumn("verdict", when(col("doc_id") === id, lit("too_short")).otherwise(col("verdict")))
    }
    def dropOne(table: String, parts: Seq[String])(copy: String): Unit =
      Common.rewrite(ctx, s"$copy/curate/$table", parts) { d =>
        val id = d.agg(min("doc_id")).first().getLong(0)
        d.filter(col("doc_id") =!= id)
      }
    Seq(
      "extract.doc_count" -> edit((d, u) => d.filter(col("url") =!= u)),
      "extract.stats_lineage_docs" -> edit((d, u) => d.withColumn("total_pages",
        when(col("url") === u, col("total_pages") + 1).otherwise(col("total_pages")))),
      "extract.output_hash" -> edit((d, u) => d.withColumn("extracted_text",
        when(col("url") === u, concat(col("extracted_text"), lit("x")))
          .otherwise(col("extracted_text")))),
      "curate.stats_eq_verdicts" -> flip, "curate.same_across_reps" -> flip,
      "curate.curated_eq_kept" -> dropOne("curated", Seq("bucket")),
      "curate.verdict_per_doc" -> dropOne("verdicts", Nil))
  }

  override def repLayers(out: String, res: Any, rt: RepTrace): Map[String, Double] = {
    val cs = res.asInstanceOf[(ExtractStats, CurateStats)]._2
    val ejobs = rt.jobsUnder("ExtractJob.run")
    // ExtractJob.run: the docs write is the first action, lineage the rest
    val sites = Common.bySite(ejobs)
    val write = sites.headOption.map(_._2).getOrElse(Nil)
    val ej = JobSum.of(rt.stages, ejobs)
    val writeStage = write.flatMap(_.stages).flatMap(id => rt.stages.get(id).map(id -> _))
      .filter(_._2.taskMs.nonEmpty).sortBy(_._1).lastOption.map(_._2)
    val skew = writeStage.map { st =>
      st.taskMs.max.toDouble / math.max(1.0, Main.median(st.taskMs.map(_.toDouble).toSeq))
    }.getOrElse(0.0)
    val cjobs = rt.jobsUnder("CurateJob.run")
    val cj = JobSum.of(rt.stages, cjobs)
    // CurateJob.run: the keeper write is the last parquet action
    val keeperWrite = Common.bySite(cjobs).filter(_._1.startsWith("parquet at")).lastOption
      .map(_._2).getOrElse(Nil)
    val docsDf = ExtractJob.readDocs(spark, s"$out/extract")
    val kinds = docsDf.groupBy("doc_kind").count().as[(String, Long)].collect().toMap
    val pages = Common.longs(docsDf.agg(sum("ocr_page_count"), sum("total_pages")).first())
    Map("extract.write_s" -> Common.wall(write),
      "extract.lineage_s" -> Common.wall(sites.drop(1).flatMap(_._2)),
      "extract.gc_s" -> ej.gcS, "extract.shuffle_write_bytes" -> ej.shuffleWrite.toDouble,
      "extract.spill_bytes" -> ej.spill.toDouble, "extract.jobs" -> ej.jobs.toDouble,
      "extract.stages" -> ej.stages.toDouble,
      "extract.files_written" ->
        Common.fileCount(new File(s"$out/extract/docs"), ".parquet").toDouble,
      "extract.write_skew" -> skew,
      "kernel.ocr_pages_per_page" -> pages(0).toDouble / math.max(1L, pages(1)),
      "curate.write_s" -> Common.wall(keeperWrite),
      "curate.kept_frac" -> cs.kept.toDouble / math.max(1L, cs.input),
      "curate.jobs" -> cj.jobs.toDouble, "curate.stages" -> cj.stages.toDouble,
      "curate.shuffle_write_bytes" -> cj.shuffleWrite.toDouble,
      "curate.spill_bytes" -> cj.spill.toDouble, "curate.gc_s" -> cj.gcS) ++
      Seq("html", "pdf", "error").map(k => s"kernel.docs.$k" -> kinds.getOrElse(k, 0L).toDouble)
  }

  /** Single calls into each layer on this run's inputs and committed output. */
  override def probes(out: String): Map[String, Double] = {
    val docs = ExtractJob.readDocs(spark, s"$out/extract")
    val base = docs.select(xxhash64(col("url")).as("doc_id"),
      coalesce(col("extracted_text"), lit("")).as("text"))
    val transformS = Common.timed3(ctx, "ExtractJob.transform", "pipeline.extract") {
      ExtractJob.transform(spark, input, jobCfg).count()
    }
    val verdictsS = Common.timed3(ctx, "CurateJob.verdicts", "pipeline.curate") {
      CurateJob.verdicts(docs, "url", "extracted_text", "lang", curateCfg).count()
    }
    var cand, near = 0L
    val candS = Common.timed3(ctx, "Dedup.minhashCandidatePairs", "ops") {
      cand = Dedup.minhashCandidatePairs(base, "doc_id", "text").count()
    }
    val nearS = Common.timed3(ctx, "Dedup.minhashNearDups", "ops") {
      near = Dedup.minhashNearDups(base, "doc_id", "text").count()
    }
    val rounds = ctx.tracer.span("Dedup.connectedComponents", "ops") {
      Dedup.connectedComponentsWithRounds(
        Dedup.minhashNearDups(base, "doc_id", "text").select("id_a", "id_b"), "id_a", "id_b")._2
    }
    Common.kernelProbe(ctx, input) ++ Map(
      "extract.transform_s" -> transformS,
      "curate.verdicts_s" -> verdictsS, "curate.planted_recall" -> recall,
      "ops.candidate_pairs_s" -> candS, "ops.near_dups_s" -> nearS,
      "ops.components_rounds" -> rounds.toDouble, "ops.candidate_pairs" -> cand.toDouble,
      "ops.verified_pairs" -> near.toDouble,
      "ops.pair_yield" -> near.toDouble / math.max(1L, cand))
  }
}

/** `SparkEntry.queries` over generated documents/embeddings tables, in a
  * seed-permuted order; each result is committed as one parquet file (the
  * shape of the repo's oracle dump), so the checked output is the timed one. */
final class QueriesWorkload(ctx: Ctx, nDocs: Long, nVecs: Long) extends Workload {
  import ctx.spark
  private var dir: String = _
  private var textBytes = 0L
  private var reference: Option[Map[String, (Long, java.math.BigDecimal)]] = None
  private val order = new scala.util.Random(ctx.seed).shuffle(Main.Queries)

  def docs: Long = nDocs + nVecs
  override def opsPerRun: Int = order.size
  def inputBytes: Long = textBytes + nVecs * 64 * 4

  def setup(d: String): Unit = {
    Inputs.documents(spark, ctx.seed, nDocs).coalesce(1).write.mode("overwrite")
      .parquet(s"$d/documents.parquet")
    Inputs.embeddings(spark, ctx.seed, nVecs).coalesce(1).write.mode("overwrite")
      .parquet(s"$d/embeddings.parquet")
  }

  /** Also writes the oracle SQL of the query set for the DuckDB check. */
  def load(d: String): Unit = {
    dir = d
    textBytes = spark.read.parquet(s"$d/documents.parquet")
      .agg(sum(length(encode(col("text"), "UTF-8")))).first().getLong(0)
    val sql = order.map(q => Json.str(q) + ":" + Json.str(SparkEntry.oracleSql(q)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${ctx.work}/oracle_sql.json"),
      sql.mkString("{", ",", "}"))
  }

  def op(out: String): (Any, Int) = {
    val failed = order.count { q =>
      Try(ctx.tracer.span(q, "SparkEntry")(SparkEntry.queries(q)(spark, dir)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$q"))).isFailure
    }
    (null, failed)
  }

  /** Row count and hash sum of every result; each must equal the first
    * pass's (the DuckDB oracle checks the committed values). */
  def check(out: String, res: Any): Seq[(String, Boolean)] = {
    val digests = order.map { q =>
      val df = spark.read.parquet(s"$out/$q")
      val r = df.agg(count(lit(1)),
        sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))).first()
      q -> (r.getLong(0), r.getDecimal(1))
    }.toMap
    if (reference.isEmpty) reference = Some(digests)
    order.map(q => s"query.$q.same_across_reps" -> (digests.get(q) == reference.get.get(q)))
  }

  override def corruptions(out: String): Seq[(String, String => Unit)] =
    order.map { q =>
      s"query.$q.same_across_reps" -> ((copy: String) =>
        Common.rewrite(ctx, s"$copy/$q", Nil)(_.filter(monotonically_increasing_id() =!= 0)))
    }

  override def repLayers(out: String, res: Any, rt: RepTrace): Map[String, Double] =
    order.flatMap { q =>
      val s = JobSum.of(rt.stages, rt.jobsUnder(q))
      Seq(s"query.$q.s" -> rt.duration(q), s"query.$q.jobs" -> s.jobs.toDouble,
        s"query.$q.shuffle_bytes" -> s.shuffleWrite.toDouble, s"query.$q.cpu_s" -> s.cpuS)
    }.toMap
}
