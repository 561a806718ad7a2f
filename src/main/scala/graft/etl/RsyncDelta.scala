package graft.etl

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The rsync delta algorithm (Tridgell & Mackerras, "The rsync
  * algorithm", 1996) — the computation behind the reference's
  * resume-on-mutated-files rsync transport
  * (DownloadDatabase.pm:117-146 `_rsync_download`), which the A19
  * transfer plan models as a decision table but never executes: the
  * receiver's OLD copy is cut into fixed blocks, each summarized by a
  * 32-bit ROLLING weak checksum (rsync's a/b split — a = byte sum,
  * b = position-weighted sum, both mod 2^16) plus a strong hash (MD5
  * here); the NEW file is scanned with a sliding window, the weak sum
  * updated in O(1) per slide, and on a weak hit verified against the
  * strong hash — matches become COPY(block) instructions, everything
  * else literal bytes. Only literals cross the wire: `bytes_saved` is
  * exactly the resume saving the reference's rsync flags buy.
  *
  * Per-file work is inherently sequential (the greedy scan jumps after
  * each match), so the Spark-first shape is per-ROW: a codegen'd
  * Catalyst expression over (old, new) binary columns, parallel across
  * the corpus — at 100 TB the delta of every mutated file computes in
  * one map-only pass, no shuffle at all. The kernel also APPLIES the
  * instruction stream (copies from old + literals) and emits the MD5 of
  * the reconstruction; the DuckDB oracle states `md5(new)` for that
  * column, so the hash gate proves delta application is lossless.
  *
  * The oracle replays the same greedy scan as a recursive CTE matching
  * on the strong hash alone — content equality implies weak-sum
  * equality, so "weak hit then strong verify" and "strong match" pick
  * identical blocks (ties broken to the smallest block index on both
  * sides); the rolling-vs-scratch equality of the weak sum itself is
  * property-tested in RsyncDeltaSpec.
  */
object RsyncDeltaImpl {

  /** Weak checksum of `bytes[off, off+len)` from scratch: a | b << 16. */
  def weakInit(bytes: Array[Byte], off: Int, len: Int): Int = {
    var a = 0; var b = 0; var i = 0
    while (i < len) {
      val x = bytes(off + i) & 0xff
      a += x
      b += (len - i) * x
      i += 1
    }
    ((a & 0xffff)) | ((b & 0xffff) << 16)
  }

  /** O(1) slide of the weak checksum from window [p, p+len) to
    * [p+1, p+1+len): a' = a - x_p + x_{p+len};  b' = b - len·x_p + a'.
    */
  def weakRoll(weak: Int, outByte: Byte, inByte: Byte, len: Int): Int = {
    val xOut = outByte & 0xff
    val xIn = inByte & 0xff
    val a2 = ((weak & 0xffff) - xOut + xIn) & 0xffff
    val b2 = (((weak >>> 16) & 0xffff) - len * xOut + a2) & 0xffff
    a2 | (b2 << 16)
  }

  private def md5hex(bytes: Array[Byte], off: Int, len: Int): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(bytes, off, len)
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Phase 1 (RECEIVER): the block-sum table of the old file — the only
    * thing that crosses the wire receiver→sender in real rsync
    * (O(len/b) entries, not the file). `buckets` maps each weak sum to
    * its block indices in ascending order (= min-k tie-break for
    * identical blocks); strong MD5s are precomputed per block.
    */
  final case class BlockSums(b: Int, nBlocks: Int,
                             buckets: java.util.HashMap[Integer, java.util.ArrayList[Integer]],
                             strongs: Array[String])

  def blockSums(old: Array[Byte], b: Int): BlockSums = {
    val nb = old.length / b
    val buckets = new java.util.HashMap[Integer, java.util.ArrayList[Integer]]()
    val strongs = new Array[String](nb)
    var k = 0
    while (k < nb) {
      buckets.computeIfAbsent(weakInit(old, k * b, b), _ => new java.util.ArrayList[Integer]())
        .add(k)
      strongs(k) = md5hex(old, k * b, b)
      k += 1
    }
    BlockSums(b, nb, buckets, strongs)
  }

  /** Phase 2 (SENDER): greedy rolling scan of the NEW file against the
    * receiver's block sums. Returns the instruction stream (`C<k>` per
    * copied block, `L<n>` per maximal literal run, '|'-separated) and
    * the literal byte stream — together, everything the sender ships.
    */
  def encode(sums: BlockSums, nw: Array[Byte]): (String, Array[Byte]) = {
    val b = sums.b
    val lits = new java.io.ByteArrayOutputStream()
    val instr = new StringBuilder
    def emit(tok: String): Unit = {
      if (instr.nonEmpty) instr.append('|')
      instr.append(tok)
    }
    var litRun = 0
    var pos = 0
    var weak = if (nw.length >= b) weakInit(nw, 0, b) else 0
    var weakValid = nw.length >= b
    while (pos + b <= nw.length) {
      if (!weakValid) { weak = weakInit(nw, pos, b); weakValid = true }
      val cand = sums.buckets.get(weak)
      var matched = -1
      if (cand != null) {
        val sn = md5hex(nw, pos, b)
        var i = 0
        while (matched < 0 && i < cand.size()) {
          if (sums.strongs(cand.get(i)) == sn) matched = cand.get(i)
          i += 1
        }
      }
      if (matched >= 0) {
        if (litRun > 0) { emit("L" + litRun); litRun = 0 }
        emit("C" + matched)
        pos += b
        weakValid = false // block jump: next window recomputes from scratch
      } else {
        lits.write(nw(pos))
        litRun += 1
        if (pos + b < nw.length) weak = weakRoll(weak, nw(pos), nw(pos + b), b)
        pos += 1
      }
    }
    // trailing bytes shorter than a block are always literal
    val tail = nw.length - pos
    if (tail > 0) lits.write(nw, pos, tail)
    if (litRun + tail > 0) emit("L" + (litRun + tail))
    (instr.toString, lits.toByteArray)
  }

  /** Phase 3 (RECEIVER): rebuild the new file from the old file plus the
    * sender's (instructions, literal stream).
    */
  def applyDelta(old: Array[Byte], b: Int, instr: String, lits: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(lits.length)
    var lp = 0
    if (instr.nonEmpty) instr.split('|').foreach { tok =>
      if (tok.charAt(0) == 'C') out.write(old, tok.substring(1).toInt * b, b)
      else {
        val n = tok.substring(1).toInt
        out.write(lits, lp, n)
        lp += n
      }
    }
    out.toByteArray
  }

  /** The A30 relation kernel: the full three-phase round trip, returning
    * (n_blocks, n_copy, lit_bytes, bytes_saved, instr, applied_md5) as
    * an InternalRow — `applied_md5` hashes the RECONSTRUCTION, so the
    * oracle's `md5(new)` makes the gate a delta-application proof.
    */
  def row(old: Array[Byte], nw: Array[Byte], b: Int): InternalRow = {
    val sums = blockSums(old, b)
    val (instr, lits) = encode(sums, nw)
    val applied = applyDelta(old, b, instr, lits)
    val nCopy = (nw.length - lits.length).toLong / b
    new GenericInternalRow(Array[Any](
      sums.nBlocks.toLong, nCopy, lits.length.toLong, b * nCopy,
      UTF8String.fromString(instr),
      UTF8String.fromString(md5hex(applied, 0, applied.length))))
  }
}

/** Codegen'd wrapper: the generated code calls the static kernel
  * directly — no UDF boxing, stays inside whole-stage codegen.
  */
case class RsyncDelta(left: Expression, right: Expression, blockSize: Int)
    extends BinaryExpression {
  require(blockSize > 0, s"rsync_delta block size must be positive, got $blockSize")
  override def dataType: DataType = StructType(Seq(
    StructField("n_blocks", LongType, nullable = false),
    StructField("n_copy", LongType, nullable = false),
    StructField("lit_bytes", LongType, nullable = false),
    StructField("bytes_saved", LongType, nullable = false),
    StructField("instr", StringType, nullable = false),
    StructField("applied_md5", StringType, nullable = false)))
  override def nullSafeEval(o: Any, n: Any): Any =
    RsyncDeltaImpl.row(o.asInstanceOf[Array[Byte]], n.asInstanceOf[Array[Byte]], blockSize)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (o, n) => s"graft.etl.RsyncDeltaImpl.row($o, $n, $blockSize)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): RsyncDelta =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "rsync_delta"
}

object RsyncDeltas {

  def rsyncDelta(oldCol: Column, newCol: Column, blockSize: Int): Column =
    GraftBridge.column(RsyncDelta(
      GraftBridge.expression(oldCol), GraftBridge.expression(newCol), blockSize))

  /** A30 `rsync_delta` query: each document's payload plays the
    * receiver's OLD copy; the NEW file is a deterministic SQL-stated
    * mutation (30 bytes deleted at offset 97 — deliberately NOT
    * block-aligned — and a 16-byte marker inserted), so both engines
    * derive the same (old, new) pairs. Block size 32; docs shorter than
    * 5 blocks are out of scope (rsync falls back to whole-file there).
    * The instruction stream shows the algorithm's signature: leading
    * blocks copy, the mutation region goes literal, and the scan
    * re-aligns mid-block onto the old suffix via the rolling window.
    */
  def rsyncDeltaQuery(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.documents(s, d)
      .filter(length(col("text")) >= 160)
      .select(col("doc_id"), col("text").as("o"))
      .withColumn("n", concat(
        substring(col("o"), 1, 96),
        lit("INSERTED_BLOCK_"), (col("doc_id") % 10).cast("string"),
        expr("substring(o, 127, length(o))")))
    pairs
      .select(col("doc_id"),
        rsyncDelta(col("o").cast("binary"), col("n").cast("binary"), 32).as("r"))
      .select(col("doc_id"), col("r.n_blocks"), col("r.n_copy"), col("r.lit_bytes"),
        col("r.bytes_saved"), col("r.instr"), col("r.applied_md5"))
      .orderBy("doc_id")
  }

  /** DuckDB replay of the same greedy scan as a recursive CTE: one step
    * per scan position, matching on the strong hash (content equality
    * implies weak equality; min-k tie-break), jumping 32 on a match.
    * `applied_md5` is stated as `md5(new)` — the hash gate therefore
    * proves the kernel's delta APPLICATION reconstructs the new file.
    */
  val rsyncDeltaOracleSql: String = """
    WITH RECURSIVE docs AS (
      SELECT doc_id, text AS o,
        substr(text, 1, 96) || 'INSERTED_BLOCK_' || CAST(doc_id % 10 AS VARCHAR)
          || substr(text, 127) AS n
      FROM documents WHERE length(text) >= 160),
    blk AS (
      SELECT doc_id, unnest(range(0, length(o) // 32)) AS k, o FROM docs),
    blocks AS (
      SELECT doc_id, k, md5(substr(o, CAST(k*32 + 1 AS INT), 32)) AS strong FROM blk),
    scan AS (
      SELECT doc_id, 1 AS pos, 0 AS n_copy, 0 AS litrun, '' AS instr FROM docs
      UNION ALL
      SELECT doc_id,
        CASE WHEN mk IS NOT NULL THEN pos + 32 ELSE pos + 1 END,
        CASE WHEN mk IS NOT NULL THEN n_copy + 1 ELSE n_copy END,
        CASE WHEN mk IS NOT NULL THEN 0 ELSE litrun + 1 END,
        CASE WHEN mk IS NOT NULL THEN instr ||
            CASE WHEN litrun > 0 THEN 'L' || CAST(litrun AS VARCHAR) || '|' ELSE '' END
            || 'C' || CAST(mk AS VARCHAR) || '|'
          ELSE instr END
      FROM (
        SELECT s.doc_id, s.pos, s.n_copy, s.litrun, s.instr,
          (SELECT min(b.k) FROM blocks b
            WHERE b.doc_id = s.doc_id AND b.strong = md5(substr(d.n, s.pos, 32))) AS mk
        FROM scan s JOIN docs d USING (doc_id)
        WHERE s.pos + 31 <= length(d.n)) t),
    fin AS (
      SELECT s.* FROM scan s
      JOIN (SELECT doc_id, max(pos) AS mp FROM scan GROUP BY doc_id) x
        ON s.doc_id = x.doc_id AND s.pos = x.mp)
    SELECT f.doc_id,
      CAST(length(d.o) // 32 AS BIGINT) AS n_blocks,
      CAST(f.n_copy AS BIGINT) AS n_copy,
      CAST(length(d.n) - 32 * f.n_copy AS BIGINT) AS lit_bytes,
      CAST(32 * f.n_copy AS BIGINT) AS bytes_saved,
      rtrim(f.instr ||
        CASE WHEN f.litrun + (length(d.n) - f.pos + 1) > 0
             THEN 'L' || CAST(f.litrun + (length(d.n) - f.pos + 1) AS VARCHAR) || '|'
             ELSE '' END,
        '|') AS instr,
      md5(d.n) AS applied_md5
    FROM fin f JOIN docs d USING (doc_id)
    ORDER BY doc_id"""
}
