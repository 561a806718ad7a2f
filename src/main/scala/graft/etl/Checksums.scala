package graft.etl

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** BSD `sum` checksum kernel: 16-bit right-rotating checksum plus the
  * 1 KiB block count, formatted `"%05d %d"` — byte-for-byte what the
  * reference shells out to (`sum '$file'` in
  * RunnableDB/DownloadDatabase.pm:238-251; `%05d` formatting at :248).
  * Validated against the real `sum` binary in ChecksumSpec.
  */
object BsdSumImpl {
  def compute(bytes: Array[Byte]): String = {
    var checksum = 0
    var i = 0
    while (i < bytes.length) {
      checksum = (checksum >> 1) + ((checksum & 1) << 15)
      checksum += bytes(i) & 0xff
      checksum &= 0xffff
      i += 1
    }
    val blocks = (bytes.length + 1023) / 1024
    f"$checksum%05d $blocks%d"
  }
}

/** Native Catalyst expression so the checksum stays inside whole-stage
  * codegen (the generated code calls the static kernel directly; no Scala
  * UDF serialization / Row boxing in the hot path).
  */
case class BsdSum(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(BsdSumImpl.compute(input.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.etl.BsdSumImpl.compute($c))")
  override protected def withNewChildInternal(newChild: Expression): BsdSum =
    copy(child = newChild)
  override def prettyName: String = "bsd_sum"
}

/** A5/A6: distributed checksum compute + manifest verify.
  *
  * The reference checksums every downloaded file sequentially and compares
  * against a `CHECKSUMS(.gz)` manifest, failing on any mismatch
  * (DownloadDatabase.pm:148-170 checksum loop, :188-216 manifest parse).
  * Here each file (or document payload) is checksummed in parallel and the
  * verify is an anti-join — at 100 TB that is a map-only pass plus a
  * broadcast-joined manifest.
  */
object Checksums {

  def bsdSum(c: Column): Column = GraftBridge.column(BsdSum(GraftBridge.expression(c)))

  /** Real file-level operator: checksum every file matched by `pathGlob`
    * using the distributed binaryFile source (one task per file — the
    * parallel analog of the reference's per-file `sum` loop).
    */
  def forFiles(s: SparkSession, pathGlob: String): DataFrame =
    s.read.format("binaryFile").load(pathGlob)
      .select(
        element_at(split(col("path"), "/"), -1).as("file"),
        bsdSum(col("content")).as("bsd_sum"),
        md5(col("content")).as("md5"),
        col("length").as("n_bytes"))

  /** Parse a CHECKSUMS manifest: lines `"<c1> <c2> <file>"`, c1 reformatted
    * to %05d exactly as DownloadDatabase.pm:204-210 does.
    */
  def parseManifest(lines: DataFrame): DataFrame =
    lines.select(
      regexp_extract(col("value"), """(\d+)\s+(\d+)\s+(.+)$""", 3).as("file"),
      concat(
        when(length(regexp_extract(col("value"), """(\d+)\s+(\d+)\s+(.+)$""", 1)) < 5,
          lpad(regexp_extract(col("value"), """(\d+)\s+(\d+)\s+(.+)$""", 1), 5, "0"))
          .otherwise(regexp_extract(col("value"), """(\d+)\s+(\d+)\s+(.+)$""", 1)),
        lit(" "),
        regexp_extract(col("value"), """(\d+)\s+(\d+)\s+(.+)$""", 2)).as("checksum"))
      .filter(col("file") =!= "")

  /** A5 query: per-document md5 + byte size (documents stand in for the
    * downloaded files so the DuckDB oracle can recompute).
    */
  def checksumMd5(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        concat(lit("doc_"), col("doc_id"), lit(".txt")).as("file"),
        md5(col("text")).as("md5"),
        octet_length(col("text")).as("n_bytes"))
      .orderBy("doc_id")

  /** A5 (BSD variant, rows-only oracle): the reference's actual `sum`
    * algorithm distributed over document payloads.
    */
  def checksumBsd(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), bsdSum(col("text").cast("binary")).as("bsd_sum"))
      .orderBy("doc_id")

  /** A6 query: manifest verify — a deterministic manifest with corrupted
    * entries every 97th doc; output is the mismatch list the reference
    * throws on (DownloadDatabase.pm:153-168).
    */
  def checksumVerify(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val computed = docs.select(col("doc_id"), md5(col("text")).as("actual"))
    val manifest = docs.select(col("doc_id"),
      when(col("doc_id") % 97 === 0, md5(concat(col("text"), lit("CORRUPT"))))
        .otherwise(md5(col("text"))).as("expected"))
    computed.join(manifest, Seq("doc_id"))
      .filter(col("actual") =!= col("expected"))
      .select(col("doc_id"), col("expected"), col("actual"))
      .orderBy("doc_id")
  }
}
