package graftbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import graft.etl.Snapshots
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** `changefeed_mirror`: an upstream snapshot table takes seed-chosen
  * upsert, delete and append commits, and a `changefeed` →
  * `applychangefeed` stream keeps a mirror of it. One client: it waits for
  * the mirror after every commit before it makes the next.
  */
final class ChangefeedMirror(spark: SparkSession, rec: Recorder, work: Path, seed: Long)
    extends Workload {
  import ChangefeedMirror._
  import spark.implicits._

  private var dir: Path = _
  private def up = dir.resolve("upstream")
  private def mirror = dir.resolve("mirror")
  private var query: StreamingQuery = _
  private val model = mutable.HashMap.empty[Long, Order]
  private var maxKey = 0L
  private val rng = new SplittableRandom(seed ^ 0xcdfL)

  private def start(): StreamingQuery =
    spark.readStream.format("graft-snapshot")
      .option("path", up.toString).option("changefeed", "true").load()
      .writeStream.format("graft-snapshot")
      .option("path", mirror.toString).option("morkey", "k")
      .option("applychangefeed", "true")
      .option("checkpointLocation", dir.resolve("checkpoint").toString).start()

  def setup(rep: Int): Unit = {
    close()
    if (dir != null) Fs.rm(dir)
    dir = work.resolve(s"changefeed-$rep")
    val r = new SplittableRandom(seed)
    model.clear()
    (1L to Rows).foreach(k => model(k) = Order(k, Seq("O", "F", "P")(r.nextInt(3)), r.nextInt(5000000).toLong))
    maxKey = Rows
    Snapshots.publish(spark, up, model.values.toSeq.sortBy(_.k).toDF())
    query = start()
    query.processAllAvailable()
  }

  private def fresh(n: Long): Seq[Order] = {
    val rows = (maxKey + 1 to maxKey + n).map(k => Order(k, "O", k % 100000))
    maxKey += n
    rows
  }

  /** One round: one commit of each kind in a seed-chosen order, with a
    * stop and checkpointed restart of the stream before the last.
    */
  def pass(p: Int): Unit = {
    val kinds = Seq("upsert", "delete", "append").sortBy(_ => rng.nextInt())
    kinds.zipWithIndex.foreach { case (kind, i) =>
      if (i == 2) rec.op("restart", record = false) {
        rec.span("stream.restart") {
          query.stop()
          query = start()
          query.processAllAvailable()
        }
      }
      commit(kind)
    }
  }

  private def commit(kind: String): Unit = {
    val a = Seq(3, 7, 11, 13, 17, 19)(rng.nextInt(6))
    val b = rng.nextInt(100)
    val hit = model.values.filter(o => Math.floorMod(o.k * a + b, 100L) == 0).toSeq.sortBy(_.k)
    val changed = kind match {
      case "upsert" => hit.map(o => o.copy(cents = o.cents + 7)) ++ fresh(Rows / 200)
      case "delete" => hit
      case _        => fresh(Rows / 200)
    }
    rec.op("lag") {
      rec.span("upstream.commit") {
        kind match {
          case "upsert" => Snapshots.publishUpsert(spark, up, changed.toDF(), "k")
          case "delete" => Snapshots.publishDeletes(spark, up, changed.map(_.k).toDF("k"))
          case _        => Snapshots.publish(spark, up, changed.toDF(), append = true)
        }
      }
      rec.span("stream.catchup")(query.processAllAvailable())
    }
    if (kind == "delete") changed.foreach(o => model.remove(o.k))
    else changed.foreach(o => model(o.k) = o)
    rec.addWork("mb", changed.size * RowBytes / 1e6)
  }

  def verify(): Unit = {
    val u = Snapshots.readCurrent(spark, up).localCheckpoint()
    val m = Snapshots.readCurrent(spark, mirror).localCheckpoint()
    rec.gate("mirror equals upstream (both exceptAll directions)",
      m.exceptAll(u).isEmpty && u.exceptAll(m).isEmpty, "mirror diverged from upstream")
    val got = u.as[Order].collect()
    rec.gate("upstream equals the expected state",
      got.length == model.size && got.forall(o => model.get(o.k).contains(o)),
      s"${got.length} upstream rows vs ${model.size} expected")
  }

  override def close(): Unit = if (query != null) { query.stop(); query = null }
}

object ChangefeedMirror {
  val Rows = 20000L
  val RowBytes = 17.0
  final case class Order(k: Long, status: String, cents: Long)
}
