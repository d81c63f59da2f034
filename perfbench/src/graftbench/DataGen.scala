package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Seeded generator for the corpus workload's inputs, in the layout
  * of the operators' dataset directories (`documents.parquet`,
  * `embeddings.parquet`, each one parquet file).
  *
  * It follows `graft.scale.SynthCorpus` (which has no seed): splitmix64
  * streams, a 40-word common vocabulary drawn ~7/9 of the time plus a
  * long tail that grows with the corpus (Heaps' law), ~2% exact and ~5%
  * near duplicates (8% of tokens replaced) of a document within the
  * preceding 1 000, and 64-dim vectors around 32 latent cluster centres.
  * The seed is mixed into every stream, so each seed is a different
  * corpus with the same statistics. */
object DataGen {

  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  @inline private def fm(r: Long, m: Long): Int = Math.floorMod(r, m).toInt

  private val common: Array[String] = Array(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "a", "the", "join", "index", "page", "block", "cache",
    "read", "write", "plan", "cost", "stats", "disk", "node", "shard")

  private val langs = Array("en", "de", "fr", "es", "zh")

  private def docText(key: Long, tailVocab: Long): String = {
    var s = mix(key ^ 0x5851F42D4C957F2DL)
    def next(): Long = { s = mix(s); s }
    val n = 20 + fm(next(), 71)
    val sb = new StringBuilder(n * 6)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      val r = next()
      if (fm(r, 9) < 2) sb.append('w').append(Math.floorMod(next(), tailVocab))
      else sb.append(common(fm(r, common.length)))
      i += 1
    }
    sb.toString
  }

  private def mutate(text: String, key: Long, tailVocab: Long): String = {
    val toks = text.split(' ')
    var s = mix(key ^ 0x2545F4914F6CDD1DL)
    def next(): Long = { s = mix(s); s }
    var k = 0
    while (k < math.max(1, toks.length / 12)) {
      toks(fm(next(), toks.length)) = "w" + Math.floorMod(next(), tailVocab)
      k += 1
    }
    toks.mkString(" ")
  }

  /** Document `i` of the corpus for `seed`: (doc_id, text, lang, source, n_chars). */
  def document(seed: Long, i: Long, nDocs: Long): (Long, String, String, String, Long) = {
    val sk = mix(seed * 0xD1B54A32D192ED03L)
    val tailVocab = math.max(2000L, nDocs * 10)
    def key(j: Long) = j ^ sk
    val roll = fm(mix(key(i) ^ 0x9E3779B97F4A7C15L), 100)
    val back = 1L + Math.floorMod(mix(key(i) + 5), math.max(1L, math.min(i, 1000L)))
    val text =
      if (i < 10 || roll >= 7) docText(key(i), tailVocab)
      else if (roll < 2) docText(key(i - back), tailVocab)
      else mutate(docText(key(i - back), tailVocab), key(i), tailVocab)
    (i, text, langs(fm(mix(key(i) + 11), langs.length)),
      "src" + fm(mix(key(i) + 13), 20), text.length.toLong)
  }

  /** Vector `i` for `seed`: (vec_id, 64 floats, cluster label). */
  def vector(seed: Long, i: Long): (Long, Seq[Float], Int) = {
    val sk = mix(seed * 0xD1B54A32D192ED03L + 1)
    val g = fm(mix((i ^ sk) ^ 0x6C62272E07BB0142L), 32)
    val v = new Array[Float](64)
    var s = mix((i ^ sk) ^ 0x27D4EB2F165667C5L)
    var k = 0
    while (k < 64) {
      val c = (Math.floorMod(mix((g.toLong * 64 + k) ^ sk ^ 0x165667B19E3779F9L), 2001L) - 1000L) / 1000.0
      s = mix(s)
      val noise = (Math.floorMod(s, 2001L) - 1000L) / 1000.0
      v(k) = (c * 0.8 + noise * 0.35).toFloat
      k += 1
    }
    (i, v.toSeq, g)
  }

  def writeDocuments(spark: SparkSession, seed: Long, n: Long, dir: String): Unit = {
    import spark.implicits._
    val df = spark.range(0L, n, 1L, 4).mapPartitions(_.map(i => document(seed, i, n)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    writeOne(df, dir, "documents")
  }

  def writeEmbeddings(spark: SparkSession, seed: Long, n: Long, dir: String): Unit = {
    import spark.implicits._
    val df = spark.range(0L, n, 1L, 4).mapPartitions(_.map(i => vector(seed, i)))
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding"), col("label").cast("int").as("label"))
    writeOne(df, dir, "embeddings")
  }

  /** Write `df` as the single file `<dir>/<table>.parquet`. */
  private def writeOne(df: DataFrame, dir: String, table: String): Unit = {
    val tmp = new File(dir, s".$table.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet"))
    require(part.length == 1, s"expected one part file for $table, got ${part.length}")
    val target = new File(dir, s"$table.parquet")
    require(part.head.renameTo(target), s"cannot move ${part.head} to $target")
    Files.deleteTree(tmp)
  }
}

object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }
}
