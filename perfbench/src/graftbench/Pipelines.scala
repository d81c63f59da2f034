package graftbench

import java.io.File

import graft.SparkEntry
import graft.operators.{Retrieval, Similarity}

/** `corpus`: a training-data pipeline over one seeded corpus of
  * documents and embeddings. Document ops: streaming near-duplicate
  * ingest, quality filters, MinHash-LSH dedup and tf-idf. Search ops:
  * SQ8 ANN for 10 queries and hybrid search (BM25 + IVF vector leg,
  * RRF-fused) for a batch of 100 queries, served by the SQ8, IVF and
  * posting layouts built in set-up.
  *
  * Every op is an unchanged `SparkEntry.queries` entry run against the
  * seed's generated dataset directory. Each set-up repetition writes a
  * fresh directory, so the layout builds (keyed by dataset path) run
  * again too. */
object Corpus extends Workload {
  val name = "corpus"
  val Docs = 1000L
  val Vectors = 5000L

  val docOps: Seq[String] = Seq("stream_neardup_sink", "text_quality_filters",
    "dedup_minhash_lsh", "text_tfidf")
  /** their results carry a `query_id` column: the queries answered */
  val searchOps: Seq[String] = Seq("ann_sq8", "hybrid_rrf_batch100")
  val ops: Seq[String] = docOps ++ searchOps

  /** the dataset directory of the latest set-up */
  var dataDir = ""

  def setup(b: Bench, rep: Int): Unit = {
    val s = b.spark
    s.catalog.clearCache()
    if (dataDir.nonEmpty) Files.deleteTree(new File(dataDir))
    val dir = new File(b.workDir, s"data-$name-rep$rep").getAbsolutePath
    new File(dir).mkdirs()
    b.step("setup.generate_s", "datagen") {
      DataGen.writeDocuments(s, b.seed, Docs, dir)
      DataGen.writeEmbeddings(s, b.seed, Vectors, dir)
    }
    b.step("operators.ivf_build_s", "graft.operators")(Similarity.buildIvfLayout(s, dir))
    b.step("operators.sq8_build_s", "graft.operators")(Similarity.buildSq8Layout(s, dir))
    b.step("operators.posting_build_s", "graft.operators")(Retrieval.buildPostingLayout(s, dir))
    new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).sorted.foreach { f =>
      b.setupCheck(rep, f.getName, s.read.parquet(f.getPath))
    }
    dataDir = dir
  }

  def round(b: Bench, r: Int): Seq[Op] = ops.map { op =>
    val fn = SparkEntry.queries(op)
    Op(op, op, () => fn(b.spark, dataDir),
      queryCol = if (searchOps.contains(op)) Some("query_id") else None)
  }

  /** documents processed: the corpus once per complete pass of the
    * document ops */
  def items(results: Seq[OpResult]): Double =
    results.count(r => docOps.contains(r.metric)).toDouble / docOps.size * Docs

  /** distinct query ids answered by the search ops */
  def searches(results: Seq[OpResult]): Double =
    results.filter(r => searchOps.contains(r.metric)).map(_.answered).sum.toDouble

  def metricNames: Seq[String] = ops.map(o => s"op.$name.$o.s") ++ Seq(
    "operators.ivf_build_s", "operators.sq8_build_s", "operators.posting_build_s")

  def traced(b: Bench, timed: Seq[OpResult]): Map[String, Double] = Map.empty
}
