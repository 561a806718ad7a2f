package graftbench

import java.nio.file.Path
import java.util.SplittableRandom

import graft.SparkEntry
import graft.ops.{Clustering, Curate, Dedup}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `corpus_dedup`: exact dedup, MinHash near-dup pairs, duplicate-group
  * clustering and the curation filter over a generated corpus in which
  * exact copies, near copies (a key-shifted replica with one or two words
  * replaced) and distinct documents all occur.
  */
final class CorpusDedup(spark: SparkSession, rec: Recorder, work: Path, seed: Long)
    extends Workload {
  import CorpusDedup._
  import spark.implicits._

  private val corpus = work.resolve("corpus")
  private val out = work.resolve("corpus-out")
  private var textBytes = 0L

  def setup(rep: Int): Unit = {
    val docs = generate(seed)
    textBytes = docs.map(_.text.length.toLong).sum
    docs.toDF().coalesce(1).write.mode("overwrite")
      .parquet(corpus.resolve("documents.parquet").toString)
  }

  private val ops: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("dedup.exact", "dedup_exact", Dedup.exact),
    ("dedup.minhash", "dedup_minhash", Dedup.minhash),
    ("clustering.groups", "dedup_groups", Clustering.dedupGroups),
    ("curate", "curate_corpus", Curate.query))

  def pass(p: Int): Unit = {
    val t0 = System.nanoTime()
    ops.foreach { case (layer, name, f) =>
      rec.op(name, record = false) {
        rec.span(layer) {
          f(spark, corpus.toString).write.mode("overwrite").parquet(out.resolve(name).toString)
        }
      }
    }
    rec.sample("pass", (System.nanoTime() - t0) / 1e6)
    rec.addWork("mb", textBytes / 1e6)
    rec.addWork("docs", Docs.toDouble)
  }

  /** The DuckDB comparison runs outside the JVM, over these outputs. */
  def verify(): Unit = ()

  override def extra: Map[String, Any] = Map(
    "corpus_dir" -> corpus.toString,
    "out_dir" -> out.toString,
    "oracle_sql" -> ops.map { case (_, n, _) => n -> SparkEntry.oracleSql(n) }.toMap,
    "shares" -> Map("distinct" -> DistinctShare, "exact" -> ExactShare, "near" -> NearShare))
}

object CorpusDedup {
  val Docs = 2000
  val ExactShare = 0.15
  val NearShare = 0.15
  val DistinctShare = 1 - ExactShare - NearShare

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  def generate(seed: Long): Seq[Doc] = {
    val r = new SplittableRandom(seed ^ 0xd0cL)
    val w = Release.Words
    val nDistinct = (Docs * DistinctShare).toInt
    val base = IndexedSeq.fill(nDistinct)(Array.fill(15 + r.nextInt(70))(w(r.nextInt(w.size))))
    val nExact = (Docs * ExactShare).toInt
    // replica j copies a random source document; its id is shifted past
    // every source id, and near copies get one or two words replaced
    val replicas = (0 until Docs - nDistinct).map { j =>
      val src = r.nextInt(nDistinct)
      val copy = base(src).clone()
      if (j >= nExact)
        (0 to r.nextInt(2)).foreach(_ => copy(r.nextInt(copy.length)) = w(r.nextInt(w.size)))
      (src, copy)
    }
    (base.zipWithIndex.map { case (ws, i) => (i, ws) } ++ replicas).zipWithIndex.map {
      case ((src, words), id) =>
        val text = words.mkString(" ")
        Doc(id.toLong, text, Seq("en", "en", "en", "de", "fr")(src % 5),
          Seq("web", "books", "news")(src % 3), text.length.toLong)
    }
  }
}
