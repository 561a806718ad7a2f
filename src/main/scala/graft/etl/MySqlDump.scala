package graft.etl

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MySQL `LOAD DATA INFILE` wire-format kernels: tab-separated fields,
  * `\N` for NULL, backslash escapes for `\0 \b \n \r \t \Z \\` — the exact
  * semantics the reference relies on in
  * RunnableDB/LoadFiles.pm:137-141 (`FIELDS ESCAPED BY '\\'`).
  */
object MySqlDumpImpl {
  def escape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\'     => sb.append("\\\\")
        case '\t'     => sb.append("\\t")
        case '\n'     => sb.append("\\n")
        case '\r'     => sb.append("\\r")
        case '\u0000' => sb.append("\\0")
        case '\u001a' => sb.append("\\Z")
        case c        => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  def unescape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '0'   => sb.append('\u0000')
          case 'b'   => sb.append('\b')
          case 'n'   => sb.append('\n')
          case 'r'   => sb.append('\r')
          case 't'   => sb.append('\t')
          case 'Z'   => sb.append('\u001a')
          case other => sb.append(other)
        }
        i += 2
      } else {
        sb.append(c)
        i += 1
      }
    }
    sb.toString
  }
}

abstract class MySqlStringKernel extends UnaryExpression {
  override def dataType: DataType = StringType
  protected def kernel: String // static method name on MySqlDumpImpl
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.etl.MySqlDumpImpl.$kernel($c.toString()))")
}

case class MySqlEscape(child: Expression) extends MySqlStringKernel {
  override protected def kernel: String = "escape"
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(MySqlDumpImpl.escape(input.toString))
  override protected def withNewChildInternal(newChild: Expression): MySqlEscape =
    copy(child = newChild)
  override def prettyName: String = "mysql_escape"
}

case class MySqlUnescape(child: Expression) extends MySqlStringKernel {
  override protected def kernel: String = "unescape"
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(MySqlDumpImpl.unescape(input.toString))
  override protected def withNewChildInternal(newChild: Expression): MySqlUnescape =
    copy(child = newChild)
  override def prettyName: String = "mysql_unescape"
}

/** A7: MySQL-dump TSV codec — a distributed re-expression of the
  * reference's `LOAD DATA LOCAL INFILE` path (LoadFiles.pm:106-149).
  *
  * The reference gunzip-concats split files and loads them through a
  * single MySQL connection; here each (possibly split) file is a Spark
  * input partition decoded in parallel, and writing is a map-only job.
  * gzip being unsplittable is fine at scale: the dump convention already
  * splits big tables into `table.NNNN.txt.gz` parts (SURVEY §4).
  */
object MySqlDump {

  private def escape(c: Column): Column = GraftBridge.column(MySqlEscape(GraftBridge.expression(c)))
  private def unescape(c: Column): Column = GraftBridge.column(MySqlUnescape(GraftBridge.expression(c)))

  private val NullMarker = "\\N"

  private def fieldToString(c: Column, dt: DataType): Column = dt match {
    case TimestampType => date_format(c, "yyyy-MM-dd HH:mm:ss")
    case DateType      => date_format(c, "yyyy-MM-dd")
    case _             => c.cast("string")
  }

  /** Encode a DataFrame to MySQL-dump TSV lines (one string column `value`). */
  def encode(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.map { f =>
      val str = fieldToString(col(f.name), f.dataType)
      coalesce(escape(str), lit(NullMarker))
    }
    df.select(concat_ws("\t", fields.toIndexedSeq: _*).as("value"))
  }

  /** Write `df` as (optionally gzipped) MySQL-dump TSV. */
  def writeTable(df: DataFrame, path: String, gzip: Boolean = true): Unit = {
    val w = encode(df).write.mode("overwrite")
    (if (gzip) w.option("compression", "gzip") else w).text(path)
  }

  /** Read MySQL-dump TSV (plain or .gz) with LOAD DATA semantics into `schema`. */
  def readTable(s: SparkSession, path: String, schema: StructType): DataFrame = {
    val lines = s.read.text(path)
    val parts = split(col("value"), "\t", -1)
    val cols = schema.fields.zipWithIndex.map { case (f, i) =>
      // try_element_at: a ragged row (fewer fields than the schema) yields
      // NULLs instead of an ANSI INVALID_ARRAY_INDEX error mid-load
      val raw = try_element_at(parts, lit(i + 1))
      val unescaped = when(raw === NullMarker, lit(null).cast("string"))
        .otherwise(unescape(raw))
      (f.dataType match {
        case TimestampType => to_timestamp(unescaped, "yyyy-MM-dd HH:mm:ss")
        case dt            => unescaped.cast(dt)
      }).as(f.name)
    }
    lines.select(cols.toIndexedSeq: _*)
  }

  /** A7 query: encode each document the way LOAD DATA would expect it and
    * prove the codec round-trips (`ok` must be uniformly true — the oracle
    * pins it to literal TRUE plus the independently-computed line).
    */
  def roundtrip(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        escape(col("text")).as("line"),
        (unescape(escape(col("text"))) === col("text")).as("ok"))
      .orderBy("doc_id")
}
