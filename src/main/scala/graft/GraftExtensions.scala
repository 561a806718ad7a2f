package graft

import graft.etl.{BsdSum, MySqlEscape, MySqlUnescape}
import graft.ops.{Fingerprint, MinhashSig, ShingleHashes, SimHash64, SortedInterCount}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one registration path for graft's native expressions, and it
  * serves SQL text only: set `spark.sql.extensions=graft.GraftExtensions`
  * and every session can call the kernels by name. The Scala API needs no
  * registration — its kernel columns are built straight from the
  * expressions and never touch the session function registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  override def apply(e: SparkSessionExtensions): Unit = {
    import GraftExtensions.checked
    val fns: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
      ("bsd_sum", "bsd_sum(binary) - BSD sum checksum, '%05d blocks' format",
        checked("bsd_sum", 1)(es => BsdSum(es.head))),
      ("mysql_escape", "mysql_escape(str) - MySQL LOAD DATA INFILE escaping",
        checked("mysql_escape", 1)(es => MySqlEscape(es.head))),
      ("mysql_unescape", "mysql_unescape(str) - inverse of mysql_escape",
        checked("mysql_unescape", 1)(es => MySqlUnescape(es.head))),
      ("simhash64", "simhash64(str) - 64-bit simhash over whitespace tokens",
        checked("simhash64", 1)(es => SimHash64(es.head))),
      ("doc_fingerprint", "doc_fingerprint(str) - rolling-hash min-sketch signature",
        checked("doc_fingerprint", 1)(es => Fingerprint(es.head))),
      ("minhash_sig", "minhash_sig(array<long>) - 64-perm minhash signature",
        checked("minhash_sig", 1)(es => MinhashSig(es.head))),
      ("shingle_hashes", "shingle_hashes(str) - distinct hashed word 3-shingles (sorted)",
        checked("shingle_hashes", 1)(es => ShingleHashes(es.head))),
      ("sorted_inter_count",
        "sorted_inter_count(array<long>, array<long>) - |a ∩ b| of SORTED-ASCENDING arrays (unsorted input gives undefined counts)",
        checked("sorted_inter_count", 2)(es => SortedInterCount(es.head, es(1)))),
      ("bitmap_distinct", "bitmap_distinct(col) - exact distinct count via Roaring bitmap",
        checked("bitmap_distinct", 1)(es => graft.functions.BitmapDistinct(es.head).toAggregateExpression())),
      ("dot_q", "dot_q(array<long>, array<long>) - integer dot product (quantized embeddings)",
        checked("dot_q", 2)(es => graft.ops.DotLong(es.head, es(1)))),
      ("sqnorm_q", "sqnorm_q(array<long>) - integer squared norm (quantized embeddings)",
        checked("sqnorm_q", 1)(es => graft.ops.SqNormLong(es.head))))
    fns.foreach { case (name, usage, builder) =>
      e.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
    // table-valued function: the snapshot layer from PURE SQL —
    // `FROM graft_snapshot('/store'[, snapshot_id | 'ref'])` resolves to
    // the same manifest-planned relation as the DataFrame source
    e.injectTableFunction((FunctionIdentifier("graft_snapshot"),
      info("graft_snapshot",
        "graft_snapshot(path[, snapshot_id | ref]) - snapshot store as a relation " +
          "(manifest-listed, zone-map/bloom pruned, time travel via the pin)"),
      graft.sources.SnapshotTvf.build))
    // table-valued function: a TxnCatalog table at a catalog version —
    // two references at the same version are cross-table consistent
    e.injectTableFunction((FunctionIdentifier("graft_table"),
      info("graft_table",
        "graft_table(catalog, table[, version]) - catalog table at a version " +
          "(cross-table consistent across references at the same version)"),
      graft.sources.SnapshotTvf.buildTable))
    // readStream.option("changefeed", true).table(...): swap the
    // streaming relation's table for its feed-shaped twin (schema +
    // _change_type) before the stream materializes its scan
    e.injectResolutionRule(s => graft.plans.ExpandChangeFeedRelation(s))
    // 'mergeschema'='true' tables: a plain MERGE from a wider source
    // evolves as if WITH SCHEMA EVOLUTION had been written (the dial
    // decides per table; the statements stay unannotated)
    e.injectHintResolutionRule(s => graft.plans.AutoMergeSchemaEvolution(s))
    // opt-in optimizer rule: count(DISTINCT <integral>) → bitmap aggregate
    e.injectOptimizerRule(_ => graft.plans.RewriteDistinctToBitmap())
    // opt-in optimizer rule: drop dim joins proven redundant by declared
    // (dq_audit-verified) FK integrity
    e.injectOptimizerRule(_ => graft.plans.EliminateFkJoin())
    // whole-operator plan node: AsOfJoinNode → AsOfJoinExec (merge scan)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // tombstone-bearing (merge-on-read) snapshot scans expand to their
    // merged logical plan — vectorized parquet legs + anti-join — instead
    // of executing behind the V1 row bridge
    e.injectOptimizerRule(s => graft.plans.ExpandMergeScan(s))
    // global sum/count/min/max over a Union pre-aggregate per leg: the
    // per-leg partial agg fuses with its scan (UnionExec breaks codegen),
    // halving task CPU on scan-bound aggregates over merged reads
    e.injectOptimizerRule(s => graft.plans.PushAggThroughUnion(s))
    // pair-bearing (position-delete) GROUP rewrite scans expand to their
    // merged plan at PHYSICAL planning (the group scan planning rule
    // builds relations after every injectable optimizer batch, and does
    // not honor the V1 bridge)
    e.injectPlannerStrategy(_ => graft.plans.ExpandMergedGroupScanStrategy)
  }
}

object GraftExtensions {
  /** Wrap a builder with an arity gate so a wrong-arg-count SQL call fails
    * as a proper AnalysisException rather than an
    * IndexOutOfBounds/NoSuchElement from the builder body.
    */
  def checked(name: String, n: Int)(b: Seq[Expression] => Expression): Seq[Expression] => Expression =
    es =>
      if (es.length == n) b(es)
      else throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$name`",
          "expectedNum" -> n.toString,
          "actualNum" -> es.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
}
