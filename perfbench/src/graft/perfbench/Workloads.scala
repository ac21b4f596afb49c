package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Bench
import graft.cluster.Clustering
import graft.fingerprint.Fingerprints
import graft.lsh.LSH
import graft.multimodal.Multimodal
import graft.pages.PagesGen
import graft.pipeline.{DedupConfig, DedupPipeline}
import graft.state.{Checkpoints, Materializer}

/** The outcome of one op's output checks. */
final case class Verdict(recall: Double, falseMerges: Long, problems: Seq[String]) {
  def ok: Boolean = problems.isEmpty
}

/** One benchmark workload at one input size, rooted at `dir`. `run` is
  * the timed op; `prepare` and `check` run outside the timed region.
  * `traced` runs the same op split into its layer calls, each inside a
  * span of `rec`.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val numBase: Long,
                        val dir: String) {
  /** Write the inputs (and seed any state) from `seed`. */
  def generate(): Unit
  /** Input docs of one op (pages or images). */
  def docs: Long
  def prepare(op: Int): Unit = ()
  def run(op: Int): DataFrame
  def traced(rec: SpanRecorder, op: Int): DataFrame
  def check(clusters: DataFrame, op: Int): Verdict
  /** Extra per-layer values measured after a traced op. */
  def tracedExtras(op: Int): Map[String, Double] = Map.empty
  /** Shuffle-read gate over the op's stages (stageId -> (sum, worst)). */
  def skewProblems(stages: Map[Int, (Long, Long)]): Seq[String] = Nil

  protected def path(name: String): String = Paths.get(dir, name).toString
  protected val mat: Materializer = Materializer.local
}

object Workload {
  val Names: Seq[String] = Seq("crawl_batch", "boilerplate_skew", "nightly_epoch", "image_dedup")

  /** Base docs per workload. Each base doc yields 11 pages
    * (PagesGen.variantKinds) or 8-9 images.
    */
  def sizes(name: String): Long = name match {
    case "crawl_batch"      => 400L
    case "boilerplate_skew" => 600L
    case "nightly_epoch"    => 500L
    case "image_dedup"      => 1000L
  }

  def apply(name: String, spark: SparkSession, seed: Long, numBase: Long,
            dir: String): Workload = name match {
    case "crawl_batch"      => new CrawlBatch(spark, seed, numBase, dir)
    case "boilerplate_skew" => new SkewBatch(spark, seed, numBase, dir)
    case "nightly_epoch"    => new NightlyEpoch(spark, seed, numBase, dir)
    case "image_dedup"      => new ImageDedup(spark, seed, numBase, dir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The checks every workload shares, over planted pairs
    * `truth` = (id_a, id_b, expect_dup, tag): recall per tag at least its
    * `minRecall` gate, no planted unrelated pair in one cluster (among the
    * tags `precisionTags` accepts), one representative per cluster, and
    * `expectRows` rows.
    */
  def verdict(clusters: DataFrame, truth: DataFrame, expectRows: Long,
              minRecall: Map[String, Double],
              precisionTags: String => Boolean = _ => true): Verdict = {
    val c = clusters.select(col("id"), col("cluster_id"))
    // (expect_dup, tag) -> (pairs, pairs in one cluster)
    val pairs = truth
      .join(c.toDF("id_a", "ca"), Seq("id_a"), "left")
      .join(c.toDF("id_b", "cb"), Seq("id_b"), "left")
      .groupBy("expect_dup", "tag")
      .agg(count(lit(1)).as("n"),
        sum(when(col("ca") === col("cb"), 1L).otherwise(0L)).as("same"))
      .collect()
      .map(r => (r.getBoolean(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val reps = clusters.groupBy("cluster_id")
      .agg(sum(col("is_representative").cast("long")).as("r"), count(lit(1)).as("n"))
      .agg(coalesce(sum(when(col("r") =!= 1L, 1L).otherwise(0L)), lit(0L)),
        coalesce(sum(col("n")), lit(0L)))
      .head()
    val (badReps, rows) = (reps.getLong(0), reps.getLong(1))
    val dup = pairs.filter(_._1._1)
    val n = dup.values.map(_._1).sum
    val recall = if (n == 0) 0.0 else dup.values.map(_._2).sum.toDouble / n
    val falseMerges = pairs.filter { case ((isDup, tag), _) => !isDup && precisionTags(tag) }
      .values.map(_._2).sum
    val problems = Seq.newBuilder[String]
    minRecall.foreach { case (tag, gate) =>
      val (tn, ts) = dup.filter(_._1._2 == tag).values
        .foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
      if (tn == 0 || ts.toDouble / tn < gate)
        problems += s"recall on $tag pairs $ts/$tn below $gate"
    }
    if (falseMerges != 0) problems += s"$falseMerges planted unrelated pair(s) merged"
    if (badReps != 0) problems += s"$badReps cluster(s) without exactly one representative"
    if (rows != expectRows) problems += s"clusters hold $rows rows, expected $expectRows"
    Verdict(recall, falseMerges, problems.result())
  }

  def dirBytes(dir: String): Long = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(p => Files.isRegularFile(p)).map(p => Files.size(p)).sum
    finally s.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Bench.deleteTree(p.toString, "perfbench")

  /** The text pipeline split into its layer calls, one span each — the
    * same stages `DedupPipeline.run` chains, called through their own
    * entry points on url ids. Returns (id, cluster_id, is_representative).
    */
  def tracedText(spark: SparkSession, rec: SpanRecorder, op: Int, pagesPath: String,
                 cfg: DedupConfig, mat: Materializer): DataFrame = {
    val count = (df: DataFrame) => df.count()
    val ext = rec.span("pages.extract", op) {
      mat(Bench.pagesFrame(spark, pagesPath).withColumnRenamed("url", "id"))
    }(count)
    val slim = rec.span("fingerprint.content_hash", op) {
      mat(ext.select(col("id"), length(col("text")).as("order_len"),
        Fingerprints.contentHash(col("text")).as("content_hash")))
    }(count)
    val sigs = rec.span("fingerprint.signatures", op) {
      val reps = slim.groupBy("content_hash").agg(min(col("id")).as("id"))
      mat(DedupPipeline.signatures(
        ext.join(reps.select("id"), Seq("id"), "left_semi")
          .select(col("id"), col("text"),
            substring(Fingerprints.normalized(col("text")), 1, cfg.saMaxChars).as("norm_text")),
        "id", "text", cfg, carry = Seq("norm_text")))
    }(count)
    val repSigs = sigs.drop("norm_text")
    rec.span("lsh.candidate_pairs", op) {
      mat(LSH.candidatePairs(
        DedupPipeline.allChannelBandRows(repSigs, cfg, includeFast = false), "id",
        hotThreshold = cfg.hotBucketThreshold, saltFactor = cfg.saltFactor,
        maxBucketSize = cfg.maxBucketSize))
    }(count)
    // materialized here so the verify work is charged to this span, not
    // to union-find's first job
    val near = rec.span("pipeline.near_edges", op) {
      mat(DedupPipeline.nearEdges(spark, repSigs, cfg,
        Some(sigs.select("id", "norm_text")), mat))
    }(count)
    clusterSpans(spark, rec, op, slim, near, cfg, mat)
  }

  /** Union-find and representative election over exact ∪ near edges. */
  def clusterSpans(spark: SparkSession, rec: SpanRecorder, op: Int, slim: DataFrame,
                   near: DataFrame, cfg: DedupConfig, mat: Materializer): DataFrame = {
    val count = (df: DataFrame) => df.count()
    val clustered = rec.span("cluster.union_find", op) {
      mat(Clustering.clusters(spark, slim, "id",
        Clustering.exactEdges(slim, "id", "content_hash").union(near),
        cfg.maxUnionFindIters, mat))
    }(count)
    rec.span("cluster.representatives", op) {
      mat(Clustering.withRepresentatives(
        clustered.join(slim.select("id", "order_len"), "id"),
        Seq(col("order_len").desc, col("id").asc)))
    }(count)
  }
}

/** Planted text pairs as (id_a, id_b, expect_dup, tag). */
object TextTruth {
  def docIdx(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_extract(c, "/p/(\\d+)/", 1).cast("long")

  def plain(spark: SparkSession, numBase: Long, seed: Long): DataFrame =
    PagesGen.truthPairs(spark, numBase, seed).toDF()
      .select(col("urlA").as("id_a"), col("urlB").as("id_b"), col("expect_dup"),
        lit("all").as("tag"))
}

/** crawl_batch: `DedupPipeline.run` over a generated pages table, on the
  * full path — extraction, content hash, signatures, LSH, verify,
  * union-find and representatives in one call.
  */
final class CrawlBatch(spark: SparkSession, seed: Long, numBase: Long, dir: String)
    extends Workload(spark, seed, numBase, dir) {
  private val cfg = DedupConfig()
  private val pagesPath = path("pages")
  def docs: Long = numBase * PagesGen.variantKinds.length

  def generate(): Unit =
    PagesGen.pages(spark, numBase, seed, tokensPerDoc = 200).toDF()
      .write.mode("overwrite").parquet(pagesPath)

  def run(op: Int): DataFrame =
    DedupPipeline.run(spark, Bench.pagesFrame(spark, pagesPath), "url", "text", cfg)

  def traced(rec: SpanRecorder, op: Int): DataFrame =
    Workload.tracedText(spark, rec, op, pagesPath, cfg, mat)

  def check(clusters: DataFrame, op: Int): Verdict =
    Workload.verdict(clusters, TextTruth.plain(spark, numBase, seed), docs, Map("all" -> 0.99))
}

/** boilerplate_skew: `DedupPipeline.run` over `PagesGen.skewPages` — a
  * 10% mega exact group and a 10% shared 60-token prefix family.
  */
final class SkewBatch(spark: SparkSession, seed: Long, numBase: Long, dir: String)
    extends Workload(spark, seed, numBase, dir) {
  private val cfg = DedupConfig()
  private val pagesPath = path("pages")
  private val kinds = PagesGen.variantKinds.length.toLong
  def docs: Long = numBase * kinds

  def generate(): Unit =
    PagesGen.skewPages(spark, numBase, seed, tokensPerDoc = 200).toDF()
      .write.mode("overwrite").parquet(pagesPath)

  def run(op: Int): DataFrame =
    DedupPipeline.run(spark, Bench.pagesFrame(spark, pagesPath), "url", "text", cfg)

  def traced(rec: SpanRecorder, op: Int): DataFrame =
    Workload.tracedText(spark, rec, op, pagesPath, cfg, mat)

  /** SkewSpec's gates: recall >= 0.995 on unaffected docs and >= 0.95 on
    * hot-prefix docs, and the mega group in one cluster.
    */
  def check(clusters: DataFrame, op: Int): Verdict = {
    import TextTruth.docIdx
    val truth = PagesGen.skewTruthPairs(spark, numBase, seed).toDF()
      .select(col("urlA").as("id_a"), col("urlB").as("id_b"), col("expect_dup"),
        when(docIdx(col("urlA")) % 10 === 1, "hot").otherwise("cold").as("tag"))
    // hot-prefix "unrelated" variants share the 60-token prefix with their
    // original, so only the unaffected docs guard precision
    val v = Workload.verdict(clusters, truth, docs, Map("cold" -> 0.995, "hot" -> 0.95),
      precisionTags = _ == "cold")
    val mega = clusters.filter(docIdx(col("id")) % 10 === 0)
      .agg(countDistinct(col("cluster_id")), count(lit(1))).head()
    val want = (numBase + 9) / 10 * kinds
    if (mega.getLong(0) == 1L && mega.getLong(1) == want) v
    else v.copy(problems = v.problems :+
      s"mega group split: ${mega.getLong(1)} rows in ${mega.getLong(0)} clusters, want $want in 1")
  }

  /** The quadratic failure mode is one task reading the hot family's whole
    * pair set, |family|²/2 rows times the bands it collides in. Bench's
    * gate, half that pair set, was sized for 32 shuffle partitions; a
    * task's fair share of a stage grows as the partitions shrink, so the
    * gate here scales by 32 / partitions.
    */
  override def skewProblems(stages: Map[Int, (Long, Long)]): Seq[String] = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val family = (numBase + 8) / 10 * kinds
    val gate = family * family / 4 * math.max(1L, 32L / parts)
    stages.toSeq.sortBy(_._1).collect {
      case (stage, (sum, worst)) if worst >= gate =>
        s"stage $stage: a task read $worst shuffle records (stage total $sum, gate $gate)"
    }
  }
}

/** nightly_epoch: one slice-fed delta epoch plus its action execution on
  * a fresh copy of a seeded state dir.
  */
final class NightlyEpoch(spark: SparkSession, seed: Long, numBase: Long, dir: String)
    extends Workload(spark, seed, numBase, dir) {
  private val cfg = DedupConfig(deltaCluster = true)
  private val kinds = PagesGen.variantKinds.length.toLong
  private val batchBase = numBase * 11 / 10
  private val basePath = path("base")
  private val batchPath = path("batch")
  private val slicePath = path("slice")
  private val seeded = path("seeded")
  private def stateDir(op: Int) = path(s"state-$op")
  private var nNew = Map.empty[Int, Long]

  def docs: Long = (batchBase - numBase) * kinds

  private def pf(p: String) = Bench.pagesFrame(spark, p)

  def generate(): Unit = {
    PagesGen.pages(spark, numBase, seed, tokensPerDoc = 200).toDF()
      .write.mode("overwrite").parquet(basePath)
    PagesGen.pages(spark, batchBase, seed, tokensPerDoc = 200).toDF()
      .write.mode("overwrite").parquet(batchPath)
    spark.read.parquet(batchPath)
      .join(spark.read.parquet(basePath).select("url"), Seq("url"), "left_anti")
      .write.mode("overwrite").parquet(slicePath)
    Workload.deleteTree(Paths.get(seeded))
    Checkpoints.clusterEpoch(spark, pf(basePath), "url", "text", seeded, cfg)
  }

  override def prepare(op: Int): Unit = {
    Workload.deleteTree(Paths.get(stateDir(op - 1)))
    Bench.copyDir(Paths.get(seeded), Paths.get(stateDir(op)))
  }

  def run(op: Int): DataFrame = {
    val (n, _) = Checkpoints.clusterEpoch(spark, pf(slicePath), "url", "text",
      stateDir(op), cfg, textsOf = Some(pf(batchPath)))
    Checkpoints.executeEpoch(spark, stateDir(op), cfg = cfg)
    nNew += op -> n
    spark.read.parquet(Checkpoints.clustersPath(stateDir(op)))
  }

  /** The epoch split into its three state calls: fingerprint the slice,
    * cluster (whose own fingerprint pass then finds nothing new), execute.
    */
  def traced(rec: SpanRecorder, op: Int): DataFrame = {
    val (n, _) = rec.span("state.run_epoch", op) {
      Checkpoints.runEpoch(spark, pf(slicePath), "url", "text", stateDir(op), cfg)
    }(_._1)
    rec.span("state.cluster_epoch", op) {
      Checkpoints.clusterEpoch(spark, pf(slicePath), "url", "text",
        stateDir(op), cfg, textsOf = Some(pf(batchPath)))
    }(_._2)
    rec.span("state.execute_epoch", op) {
      Checkpoints.executeEpoch(spark, stateDir(op), cfg = cfg)
    }(_._1)
    nNew += op -> n
    spark.read.parquet(Checkpoints.clustersPath(stateDir(op)))
  }

  private def liveDocs(op: Int): Long =
    Checkpoints.liveSignatures(spark, stateDir(op)).count()

  def check(clusters: DataFrame, op: Int): Verdict = {
    val v = Workload.verdict(clusters, TextTruth.plain(spark, batchBase, seed),
      liveDocs(op), Map("all" -> 0.99))
    val got = nNew.getOrElse(op, -1L)
    if (got == docs) v
    else v.copy(problems = v.problems :+ s"epoch fingerprinted $got new docs, slice holds $docs")
  }

  override def tracedExtras(op: Int): Map[String, Double] =
    Map("state.kb_per_doc" ->
      Workload.dirBytes(stateDir(op)) / 1024.0 / liveDocs(op))
}

/** image_dedup: decode + aHash every image, then cluster the signature
  * table on the fast (exact + aHash) path.
  */
final class ImageDedup(spark: SparkSession, seed: Long, numBase: Long, dir: String)
    extends Workload(spark, seed, numBase, dir) {
  private val cfg = DedupConfig(fastPath = true)
  private val imagesPath = path("images")
  private var nImages = 0L
  def docs: Long = nImages

  def generate(): Unit = nImages = ImageCorpus.write(spark, numBase, seed, imagesPath)

  /** The signature table the resume path clusters: content hash of the
    * bytes, aHash as the 64-bit near-dup key, pixel count as order_len.
    */
  private def imageSigs(): DataFrame = {
    val blob = col("blob")
    val meta = Multimodal.imageMeta(blob)
    spark.read.parquet(imagesPath).select(
      col("id"),
      coalesce(meta("width").cast("long") * meta("height").cast("long"), lit(0L))
        .as("order_len"),
      sha2(blob, 256).as("content_hash"),
      lit(0).as("n_shingles"),
      Multimodal.imageAHash(blob).as("simhash"),
      array().cast("array<long>").as("minhash"),
      array().cast("array<long>").as("shingles"))
  }

  def run(op: Int): DataFrame =
    DedupPipeline.clusterSignatures(spark, imageSigs(), None, cfg)

  def traced(rec: SpanRecorder, op: Int): DataFrame = {
    val count = (df: DataFrame) => df.count()
    val sigs = rec.span("multimodal.ahash", op) { mat(imageSigs()) }(
      _.filter(col("simhash").isNotNull).count())
    val near = rec.span("pipeline.near_edges_fast", op) {
      val reps = sigs.groupBy("content_hash").agg(min(col("id")).as("id"))
      mat(DedupPipeline.nearEdgesFast(
        sigs.join(reps.select("id"), Seq("id"), "left_semi"), cfg, mat))
    }(count)
    Workload.clusterSpans(spark, rec, op, sigs, near, cfg, mat)
  }

  def check(clusters: DataFrame, op: Int): Verdict = {
    val truth = ImageCorpus.truth(spark, numBase).withColumn("tag", lit("all"))
    val v = Workload.verdict(clusters, truth, nImages, Map("all" -> 1.0))
    val corrupt = spark.read.parquet(imagesPath).filter(col("kind") === "corrupt")
    val hashed = corrupt.filter(Multimodal.imageAHash(col("blob")).isNotNull).count()
    val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("size"))
    val merged = clusters.join(corrupt.select("id"), "id")
      .join(sizes, "cluster_id").filter(col("size") > 1).count()
    val extra =
      (if (hashed == 0) Nil else Seq(s"$hashed corrupt blob(s) got an aHash")) ++
      (if (merged == 0) Nil else Seq(s"$merged corrupt blob(s) merged into a cluster"))
    v.copy(problems = v.problems ++ extra)
  }
}
