package graft.perfbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.CurationPipeline
import graft.sim.Similarity
import graft.sources.SnapshotStore
import graft.text.BpeMerges

/** A corpus owner's job: curate the document corpus, then refresh and
  * serve the vector index beside it.
  *
  * Set-up (charged to setup_s) builds the IVF-PQ index the n8 way: fit,
  * encode and commit the code table, and commit the raw vectors the
  * exact re-rank reads, both as SnapshotStore tables.
  *
  * The timed pass runs the curation DAG, x25 (gates, exact dedup,
  * decontamination, mixture, repetition, d2b pair graph + d6 star
  * contraction, packing manifest) and x26 (BPE fit + tokenization), both
  * collected; then one index round of short jobs: append one delta batch
  * (encoded against the in-memory model, then appendCommit of codes and
  * raw vectors: the n9 path), [[QueryBatches]] query batches
  * (SnapshotStore.read of both tables, then serveIvfPq top-10), and a
  * compaction of both tables. The first query batch carries the delta's
  * planted exact copies, whose top-1 must be their source at cosine 1.0
  * (the n9 closed form). */
object CorpusPass extends Pass {
  import CurationPipeline._

  val QueryBatches = 2
  val BatchSize = 16
  val TopK = 10
  val CompactTargetBytes: Long = 64L * 1024
  val RecallQueries = 32

  def inputFiles: Seq[String] =
    Seq("documents.parquet", "embeddings.parquet", "deltas.parquet")
  def inputRows(ctx: Ctx): Long = ctx.plantedCount("docs") +
    ctx.plantedCount("vectors") +
    ctx.plantedCount("deltas") * ctx.plantedCount("delta_rows")

  final case class Index(model: Similarity.IvfPqModel, root: String,
      ids: Array[Long], delta: Seq[(Long, Array[Float], Long)],
      filesAfterBuild: Set[(String, Long, Long)]) {
    def codes = s"$root/codes"
    def vectors = s"$root/vectors"
  }

  final case class Out(x25: Seq[Seq[String]], x26: Seq[Seq[String]],
      index: Index, planted: Map[Long, Long], answers: Seq[Row],
      queryMs: Seq[Double], appendMs: Double, queryIds: Seq[Long])

  /** (path, mtime, size) of every file under `root`. */
  private def files(root: File): Set[(String, Long, Long)] =
    if (root.isDirectory)
      Option(root.listFiles).toSeq.flatten.flatMap(f => files(f)).toSet
    else if (root.exists) Set((root.getPath, root.lastModified, root.length))
    else Set.empty

  /** Data files the latest manifest of a table pins. */
  private def liveFiles(table: String): Int = {
    val ms = Option(new File(table, "manifests").listFiles).toSeq.flatten
      .filter(_.getName.matches("m-\\d{12}"))
    if (ms.isEmpty) 0
    else {
      val src = scala.io.Source.fromFile(ms.maxBy(_.getName), "UTF-8")
      try src.getLines().count(_.split('\t').head.endsWith(".parquet"))
      finally src.close()
    }
  }

  override def setup(s: SparkSession, ctx: Ctx, dir: String, tr: Tracer,
      pass: Int): Any = {
    val spark = s
    import spark.implicits._
    val root = s"$dir/index"
    val base = s.read.parquet(s"${ctx.input}/embeddings.parquet")
      .select("vec_id", "embedding")
    val model = tr.span("sim.fit") {
      Similarity.fitIvfPq(s, base, ctx.plantedCount("vectors"))
    }
    tr.span("sim.encode") {
      SnapshotStore.commit(Similarity.encodeIvfPq(s, base, model), s"$root/codes")
    }
    tr.span("store.commit_base") {
      SnapshotStore.commit(base, s"$root/vectors")
    }
    // the delta batch this pass appends (each pass has a fresh index,
    // so batches may repeat across passes) and the ids it may query
    val batch = pass % ctx.plantedCount("deltas")
    val delta = s.read.parquet(s"${ctx.input}/deltas.parquet")
      .filter(col("batch") === batch).select("vec_id", "embedding", "src_id")
      .as[(Long, Array[Float], Long)].collect().sortBy(_._1).toSeq
    val ids = base.select("vec_id").as[Long].collect().sorted
    Index(model, root, ids, delta, files(new File(root)))
  }

  def run(s: SparkSession, ctx: Ctx, dir: String, tr: Tracer,
      timed: Harness.Timed, state: Any, pass: Int): Any = {
    val in = ctx.input
    val (x25, x26) = tr.span("pipeline.pass") {
      val x25 = tr.span("pipeline.x25") {
        tr.span("pipeline.survived") { survivedDocs(s, in) }
        tr.span("dedup.keep_list") { keptDocs(s, in) }
        timed.collect("pipeline.x25", x25PipelineE2e(s, in))
      }
      val x26 = tr.span("pipeline.x26") {
        tr.span("text.bpe_fit") { BpeMerges.learnedMerges(s, in) }
        timed.collect("pipeline.x26", x26PipelineTokens(s, in))
      }
      (x25, x26)
    }
    val idx = state.asInstanceOf[Index]
    val spark = s
    import spark.implicits._
    tr.span("index.round") {
      val a0 = Harness.nowS()
      tr.span("index.append") {
        val df = idx.delta.map { case (id, v, _) => (id, v) }
          .toDF("vec_id", "embedding")
        tr.span("sim.delta_encode") {
          SnapshotStore.appendCommit(
            Similarity.encodeIvfPq(s, df, idx.model), idx.codes)
        }
        tr.span("store.commit") { SnapshotStore.appendCommit(df, idx.vectors) }
      }
      val appendMs = (Harness.nowS() - a0) * 1000
      val planted = idx.delta.collect { case (id, _, src) if src >= 0 => id -> src }
        .toMap
      val corpus = idx.ids ++ idx.delta.map(_._1)
      val rng = new java.util.Random(ctx.seed * 1000003L + pass)
      val batches = (0 until QueryBatches).map { q =>
        val sample = Seq.fill(BatchSize)(corpus(rng.nextInt(corpus.length)))
        (if (q == 0) planted.keys.toSeq.sorted ++ sample else sample)
          .distinct.take(BatchSize)
      }
      val (answers, queryMs) = batches.map { ids =>
        val q0 = Harness.nowS()
        val rows = query(s, idx, ids, tr, timed)
        (rows, (Harness.nowS() - q0) * 1000)
      }.unzip
      tr.span("store.compact") {
        SnapshotStore.compact(s, idx.codes, CompactTargetBytes)
        SnapshotStore.compact(s, idx.vectors, CompactTargetBytes)
      }
      Out(canon(x25), canon(x26), idx, planted, answers.flatten, queryMs,
        appendMs, batches.flatten)
    }
  }

  private def query(s: SparkSession, idx: Index, ids: Seq[Long], tr: Tracer,
      timed: Harness.Timed): Array[Row] = tr.span("index.query") {
    val (codes, vecs) = tr.span("store.read") {
      (SnapshotStore.read(s, idx.codes).select("vec_id", "cell", "code", "norm"),
        SnapshotStore.read(s, idx.vectors).select("vec_id", "embedding"))
    }
    tr.span("sim.serve") {
      timed.collect("index.query", Similarity.serveIvfPq(s, vecs, idx.model,
        codes, idx.ids.length.toLong, col("vec_id").isin(ids: _*), TopK))
    }
  }

  private def canon(rows: Array[Row]): Seq[Seq[String]] =
    rows.toSeq.map(r => r.toSeq.map(String.valueOf)).sortBy(_.head.toLong)

  private var firstDigest: Option[Seq[Seq[String]]] = None

  def check(s: SparkSession, ctx: Ctx, o: Any, checks: Checks,
      full: Boolean): Unit = {
    val out = o.asInstanceOf[Out]
    checks("curation.x25_digest_stable", firstDigest.forall(_ == out.x25),
      s"x25 manifest changed between passes: ${out.x25}")
    if (firstDigest.isEmpty) firstDigest = Some(out.x25)
    // x26 counts the same kept docs per shard as the x25 manifest
    val x25Docs = out.x25.map(r => r(0) -> r(1)).toMap
    val x26Docs = out.x26.map(r => r(0) -> r(1)).toMap
    checks("curation.x26_matches_x25", x25Docs == x26Docs,
      s"x25 $x25Docs vs x26 $x26Docs")
    // the n9 closed form: each planted copy's top-1 is its source
    val top1 = out.answers.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getAs[Long]("q_id") -> r).toMap
    out.planted.foreach { case (copy, src) =>
      checks("index.planted_top1_is_source", top1.get(copy).exists(r =>
        r.getAs[Long]("neighbor_id") == src && r.getAs[Double]("cosine") == 1.0),
        s"copy $copy of $src answered ${top1.get(copy)}")
    }
    checks("index.every_query_answered",
      out.queryIds.forall(top1.contains), "a query got no answer")
    if (full) {
      val spark = s
      import spark.implicits._
      val read = SnapshotStore.read(s, out.index.vectors).select("vec_id")
        .as[Long].collect()
      val want = out.index.ids.length + out.index.delta.length
      checks("index.all_vectors_readable",
        read.length == want && read.distinct.length == want,
        s"${read.length} vectors read back, $want written")
    }
  }

  /** Exact cosine top-k ids of `q` over `all`, excluding `q` itself. */
  private def exactTopK(q: Long, all: Array[(Long, Array[Float])]): Set[Long] = {
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val qv = all.find(_._1 == q).get._2
    val qn = norm(qv)
    all.iterator.filter(_._1 != q).map { case (id, v) =>
      var dot = 0.0; var i = 0
      while (i < v.length) { dot += qv(i).toDouble * v(i); i += 1 }
      (-(dot / (qn * norm(v))), id)
    }.toSeq.sorted.take(TopK).map(_._2).toSet
  }

  override def observe(s: SparkSession, ctx: Ctx, o: Any, traced: Boolean)
      : Map[String, Seq[Double]] = {
    val out = o.asInstanceOf[Out]
    val idx = out.index
    val written = (files(new File(idx.root)) -- idx.filesAfterBuild).toSeq
      .map(_._3).sum
    val deltaBytes = idx.delta.length * (8 + 4 * ctx.plantedCount("dim"))
    val serving = Map(
      "index.query_ms" -> out.queryMs,
      "index.append_ms" -> Seq(out.appendMs),
      "index.write_amp" -> Seq(written.toDouble / deltaBytes))
    if (!traced) serving
    else {
      val spark = s
      import spark.implicits._
      val in = ctx.input
      val survived = survivedDocs(s, in).agg(count(lit(1))).head().getLong(0)
      val kept = out.x25.map(_(1).toLong).sum
      // recall@10 against exact brute force over the merged corpus
      val all = SnapshotStore.read(s, idx.vectors).select("vec_id", "embedding")
        .as[(Long, Array[Float])].collect()
      val rng = new java.util.Random(ctx.seed)
      val qs = Seq.fill(RecallQueries)(all(rng.nextInt(all.length))._1).distinct
      val approx = query(s, idx, qs, new Tracer(false), new Harness.Timed)
        .groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
      val recall = qs.map(q => approx.getOrElse(q, Set.empty[Long])
        .intersect(exactTopK(q, all)).size.toDouble / TopK)
      serving ++ Map(
        "pipeline.docs_in" -> Seq(ctx.plantedCount("docs").toDouble),
        "pipeline.survived_docs" -> Seq(survived.toDouble),
        "dedup.kept_docs" -> Seq(kept.toDouble),
        "pipeline.kept_ratio" -> Seq(kept.toDouble / ctx.plantedCount("docs")),
        "store.live_files" ->
          Seq((liveFiles(idx.codes) + liveFiles(idx.vectors)).toDouble),
        "store.bytes_written_mb" -> Seq(written / (1024.0 * 1024.0)),
        "index.recall_at_10" -> Seq(recall.sum / recall.size))
    }
  }

  def spanSeconds: Seq[(String, String)] = Seq(
    "pipeline.survived_s" -> "pipeline.survived",
    "dedup.keep_list_s" -> "dedup.keep_list",
    "text.bpe_fit_s" -> "text.bpe_fit",
    "pipeline.x25_s" -> "pipeline.x25",
    "pipeline.x26_s" -> "pipeline.x26",
    "sim.fit_s" -> "sim.fit",
    "sim.encode_s" -> "sim.encode")

  override def spanCallMs: Seq[(String, String)] = Seq(
    "sim.serve_ms" -> "sim.serve",
    "sim.delta_encode_ms" -> "sim.delta_encode",
    "store.commit_ms" -> "store.commit",
    "store.read_ms" -> "store.read",
    "store.compact_ms" -> "store.compact")

  override def report(o: Any): Map[String, Any] = o match {
    case out: Out => Map(
      "x25_rows" -> out.x25,
      "x25_oracle_sql" -> oracle("x25_pipeline_e2e"))
    case _ => Map.empty
  }
}
