package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Scalar text kernels used where a composition of built-ins would leave
  * codegen (a 64-way bit-vote can't be expressed as a sane Column tree).
  * Each is a native Catalyst Expression whose generated code calls a
  * static JVM kernel — no Scala-UDF boxing, stays inside WholeStageCodegen.
  */
object TextKernelImpl {

  /** FNV-1a 64-bit — public-domain hash, deterministic across JVMs. */
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** 64-bit SimHash over whitespace tokens of the lowercased text:
    * each token occurrence votes ±1 per bit of its FNV-1a hash.
    */
  def simhash64(text: String): Long = {
    val votes = new Array[Int](64)
    val lower = text.toLowerCase(java.util.Locale.ROOT)
    var start = 0
    val n = lower.length
    while (start < n) {
      while (start < n && lower.charAt(start) == ' ') start += 1
      var end = start
      while (end < n && lower.charAt(end) != ' ') end += 1
      if (end > start) {
        val h = fnv1a64(lower.substring(start, end))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      start = end
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Hashed-linear-classifier logit: Σ over whitespace tokens of
    * weight[fnv1a64(token) mod 64], with the 64 weights derived from a
    * Knuth multiplicative hash of the bucket index — a deterministic
    * stand-in for trained fastText-style weights (same feature-hashing
    * inference shape: no vocabulary, fixed memory, one pass).
    */
  def classifierLogit(text: String): Long = {
    val lower = text.toLowerCase(java.util.Locale.ROOT)
    var logit = 0L
    var start = 0
    val n = lower.length
    while (start < n) {
      while (start < n && lower.charAt(start) == ' ') start += 1
      var end = start
      while (end < n && lower.charAt(end) != ' ') end += 1
      if (end > start) {
        // h & 63 == unsigned h mod 64 (power of two) — matches the
        // oracle's `hu % 64` over the HUGEINT unsigned value
        val b = fnv1a64(lower.substring(start, end)) & 63L
        logit += (b * 2654435761L) % 4294967296L % 17L - 8L
      }
      start = end
    }
    logit
  }

  /** Document fingerprint: polynomial rolling hash (base 257, implicit
    * mod 2^64) over every 8-char window, keep the 4 smallest distinct
    * window hashes (winnowing-style), render as hex signature.
    */
  def fingerprint(text: String): String = {
    val k = 8
    if (text.length < k) return f"${fnv1a64(text)}%016x"
    // rolling: h_{i+1} = (h_i - c_i*257^(k-1)) * 257 + c_{i+k}
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= 257L; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = h * 257L + text.charAt(i); i += 1 }
    val best = new java.util.TreeSet[java.lang.Long]()
    def offer(v: Long): Unit = {
      best.add(java.lang.Long.valueOf(v))
      if (best.size > 4) best.remove(best.last())
    }
    offer(h)
    i = k
    while (i < text.length) {
      h = (h - text.charAt(i - k) * pow) * 257L + text.charAt(i)
      offer(h)
      i += 1
    }
    val sb = new java.lang.StringBuilder(4 * 17)
    val it = best.iterator()
    while (it.hasNext) {
      if (sb.length > 0) sb.append(':')
      sb.append(f"${it.next().longValue()}%016x")
    }
    sb.toString
  }
}

case class ClassifierLogit(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    TextKernelImpl.classifierLogit(input.toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.TextKernelImpl.classifierLogit($c.toString())")
  override protected def withNewChildInternal(newChild: Expression): ClassifierLogit =
    copy(child = newChild)
  override def prettyName: String = "classifier_logit"
}

case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    TextKernelImpl.simhash64(input.toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.TextKernelImpl.simhash64($c.toString())")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}

/** Bare FNV-1a 64 of a string column — the feature-hashing primitive the
  * bucketed operators (DSIR importance weights) apply inside higher-order
  * lambdas, where a pre-hashed array column would lose the positional
  * pairing. Signed Long; callers mask with a power-of-two-minus-one so the
  * value agrees with the oracle's unsigned HUGEINT `% 2^k`.
  */
case class Fnv64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    TextKernelImpl.fnv1a64(input.toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.TextKernelImpl.fnv1a64($c.toString())")
  override protected def withNewChildInternal(newChild: Expression): Fnv64 =
    copy(child = newChild)
  override def prettyName: String = "fnv64"
}

/** FNV-1a 64 with a multiplicative finalizer, mapped into [0, 2⁶³):
  * `(fnv1a64(s) · 0x9E3779B97F4A7C15) >>> 1` (wrapping multiply). Raw
  * FNV top bits mix poorly on short sequential strings — measured 41%
  * KMV overestimate on digit keys vs ~2% after this mix — and KMV reads
  * uniformity exactly there. The golden-ratio multiply propagates FNV's
  * low-bit entropy to the top; DuckDB replays it as
  * `(fnv · 11400714819323198485) % 2⁶⁴ // 2` in HUGEINT.
  */
case class Fnv64Mix(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    (TextKernelImpl.fnv1a64(input.toString) * Fnv64Mix.C) >>> 1
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"(graft.ops.TextKernelImpl.fnv1a64($c.toString()) * ${Fnv64Mix.C}L) >>> 1")
  override protected def withNewChildInternal(newChild: Expression): Fnv64Mix =
    copy(child = newChild)
  override def prettyName: String = "fnv64mix"
}
object Fnv64Mix { val C: Long = 0x9E3779B97F4A7C15L }

case class Fingerprint(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(TextKernelImpl.fingerprint(input.toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.ops.TextKernelImpl.fingerprint($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): Fingerprint =
    copy(child = newChild)
  override def prettyName: String = "doc_fingerprint"
}

/** DataFrame-API columns over the text kernels above. */
object TextKernels {
  def simhash64(c: Column): Column = GraftBridge.column(SimHash64(GraftBridge.expression(c)))
  def fingerprint(c: Column): Column = GraftBridge.column(Fingerprint(GraftBridge.expression(c)))
  def classifierLogit(c: Column): Column =
    GraftBridge.column(ClassifierLogit(GraftBridge.expression(c)))
  def fnv64(c: Column): Column = GraftBridge.column(Fnv64(GraftBridge.expression(c)))
  def fnv64mix(c: Column): Column = GraftBridge.column(Fnv64Mix(GraftBridge.expression(c)))
}

/** D8–D11: language-ID, quality scoring, token counting, fingerprinting —
  * all pure column expressions over `documents` (integer metrics only, so
  * the DuckDB oracle agrees bit-for-bit).
  */
object TextAnalysis {

  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "y", "en"),
    "de" -> Seq("der", "die", "und", "das", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "un"))

  private[ops] def words(text: Column): Column = split(lower(text), " ")

  /** Occurrence count of tokens from `list` (counts duplicates — an
    * array_intersect would dedup).
    */
  private[ops] def hits(w: Column, list: Seq[String]): Column =
    size(filter(w, t => list.map(x => t === x).reduce(_ || _)))

  /** D8: stopword-hit language ID with a deterministic argmax tie-break
    * (en > es > de > fr, `und` when nothing hits).
    */
  def langId(s: SparkSession, d: String): DataFrame = {
    val w = words(col("text"))
    val he = hits(w, stopwords("en")); val hs = hits(w, stopwords("es"))
    val hd = hits(w, stopwords("de")); val hf = hits(w, stopwords("fr"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        he.as("hits_en"), hs.as("hits_es"), hd.as("hits_de"), hf.as("hits_fr"))
      .withColumn("pred",
        when(col("hits_en") + col("hits_es") + col("hits_de") + col("hits_fr") === 0, "und")
          .when(col("hits_en") >= col("hits_es") && col("hits_en") >= col("hits_de") && col("hits_en") >= col("hits_fr"), "en")
          .when(col("hits_es") >= col("hits_de") && col("hits_es") >= col("hits_fr"), "es")
          .when(col("hits_de") >= col("hits_fr"), "de")
          .otherwise("fr"))
      .orderBy("doc_id")
  }

  /** D9: quality scoring from integer-exact text statistics. */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    val w = words(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        length(col("text")).as("n_chars_m"),
        size(w).as("n_tok"),
        hits(w, stopwords("en")).as("n_stop"),
        (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", ""))).as("n_digit"))
      .withColumn("stop_ratio_x1000", expr("n_stop * 1000 DIV n_tok"))
      .withColumn("avg_tok_len_x100", expr("n_chars_m * 100 DIV n_tok"))
      .withColumn("score", col("stop_ratio_x1000") + least(lit(500), col("n_tok")) - col("n_digit"))
      .orderBy("doc_id")
  }

  /** D18: within-document repetition scoring — the Gopher/MassiveText-
    * style quality rule (Rae et al. 2021, §A1.1: fraction of duplicated
    * n-grams): for n ∈ {2,3,4}, the fraction of n-gram occurrences that
    * are repeats of an earlier occurrence, as an exact ×1000 integer
    * ratio. Entirely per-row array math (codegen'd, NO shuffle, no
    * explode) — at 100 TB this is a pure map over the corpus scan.
    */
  def repetitionScore(s: SparkSession, d: String): DataFrame = {
    // words projected once per row: an inline split would be re-evaluated
    // by every element_at of every n-gram — ~450 splits/doc across
    // n ∈ {2,3,4} (no CSE inside higher-order-function lambdas; see
    // Dedup.shinglesOfWords)
    def counts(n: Int): Seq[Column] = {
      val w = col("graft_w")
      val grams = transform(sequence(lit(0), size(w) - n), i =>
        concat_ws(" ", (0 until n).map(k => element_at(w, i + k + 1)): _*))
      Seq(when(size(w) >= n, size(grams)).otherwise(0).as(s"tot$n"),
        when(size(w) >= n, size(array_distinct(grams))).otherwise(0).as(s"uniq$n"))
    }
    Tables.documents(s, d)
      .select(col("doc_id"), words(col("text")).as("graft_w"))
      .select(col("doc_id") +: (2 to 4).flatMap(counts): _*)
      .select(col("doc_id") +: (2 to 4).map(n =>
        // integer DIV keeps both engines exact (no float quotient)
        expr(s"CASE WHEN tot$n > 0 THEN (tot$n - uniq$n) * 1000 DIV tot$n ELSE 0 END")
          .cast("long").as(s"dup${n}_x1000")): _*)
      .orderBy("doc_id")
  }

  /** D10: token counting — whitespace tokens plus a BPE-ish regex
    * tokenizer (letter runs / digit runs / single non-alnum).
    */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("re_tokens"),
        length(regexp_replace(col("text"), " ", "")).as("chars_no_ws"))
      .orderBy("doc_id")

  /** D15: PII redaction — regex scrub of emails / IPv4s / phone numbers,
    * with per-doc match counts. Patterns are RE2-safe (no lookaround, no
    * backrefs) so Spark's Java regex and DuckDB's RE2 agree exactly. The
    * corpus is synthetic and PII-free, so every third doc gets a
    * deterministic planted contact line first — both engines construct the
    * identical input, and clean docs prove the no-op path.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  def piiRedact(s: SparkSession, d: String): DataFrame = {
    val planted = when(col("doc_id") % 3 === 0,
      concat(col("text"), lit(" contact u"), col("doc_id"),
        lit("@example.org or 10.0."), col("doc_id") % lit(256L), lit(".1 tel 555-123-4567")))
      .otherwise(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), planted.as("t"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(EmailRe), lit(0))).as("n_email"),
        size(regexp_extract_all(col("t"), lit(Ipv4Re), lit(0))).as("n_ip"),
        size(regexp_extract_all(col("t"), lit(PhoneRe), lit(0))).as("n_phone"),
        regexp_replace(regexp_replace(regexp_replace(col("t"),
          EmailRe, "[EMAIL]"), Ipv4Re, "[IP]"), PhoneRe, "[PHONE]").as("redacted"))
      .orderBy("doc_id")
  }

  /** D11: rolling-hash document fingerprint (rows-only; validated in spec). */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextKernels.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** D21: Gopher-rule document filter (Rae et al. 2021, §A1.1) — the
    * doc-level quality gate every production corpus runs before training:
    * word count in [50, 100k], mean word length in [3, 10] chars,
    * stopword hits ≥ 2, ≥80% of words containing an alphabetic character.
    * All metrics are exact integers (×100/×1000 fixed point), so the
    * whole rule set replays in the DuckDB oracle; one per-row map over
    * the corpus scan, zero shuffle at any scale.
    */
  def gopherFilter(s: SparkSession, d: String): DataFrame = {
    val w = col("graft_w") // words projected once; see Dedup.shinglesOfWords
    Tables.documents(s, d)
      .select(col("doc_id"), words(col("text")).as("graft_w"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("chars_no_ws"))
      .select(col("doc_id"),
        size(w).cast("long").as("n_tok"),
        col("chars_no_ws"),
        hits(w, stopwords("en")).cast("long").as("n_stop"),
        size(filter(w, t => t.rlike("[a-z]"))).cast("long").as("n_alpha"))
      .withColumn("mean_len_x100", expr("chars_no_ws * 100 DIV n_tok"))
      .withColumn("alpha_x1000", expr("n_alpha * 1000 DIV n_tok"))
      .withColumn("r_word_count", col("n_tok").between(50, 100000))
      .withColumn("r_mean_len", col("mean_len_x100").between(300, 1000))
      .withColumn("r_stopword", col("n_stop") >= 2)
      .withColumn("r_alpha", col("alpha_x1000") >= 800)
      .withColumn("keep",
        col("r_word_count") && col("r_mean_len") && col("r_stopword") && col("r_alpha"))
      .select("doc_id", "n_tok", "mean_len_x100", "n_stop", "alpha_x1000",
        "r_word_count", "r_mean_len", "r_stopword", "r_alpha", "keep")
      .orderBy("doc_id")
  }

  /** D22: unigram language-model surprisal — the classic LM-based quality
    * proxy (CCNet-style "how surprising is this document under a corpus
    * LM", with the corpus's own unigram distribution as the model).
    * Per token: floor(log2(N_total)) − floor(log2(count(token))) bits,
    * computed EXACTLY as length(bin(x))−1 (identical integer results in
    * Spark and DuckDB — no floating-point log whose last ulp could differ
    * between engines). Per document: total bits and the ×1000 fixed-point
    * mean. High bits/token ⇒ rare vocabulary (gibberish or genuinely rare
    * content); low ⇒ boilerplate.
    *
    * Shape at 100 TB: the vocabulary is a corpus-wide groupBy (map-side
    * partial agg; vocab size ≪ corpus size), the token↔vocab join is a
    * shuffle join whose hot keys (stopwords) are exactly what AQE skew
    * handling / Skew.salted exist for, and the single-row total
    * broadcasts. A production variant would broadcast the top-K head of
    * the vocabulary and shuffle only the tail.
    */
  def unigramSurprisal(s: SparkSession, d: String): DataFrame = {
    // NO fanOut here, deliberately: the token stream is consumed twice
    // (vocab build + the token↔vocab join), and an exchange ahead of the
    // explode measurably cost more than the single-split explode did
    // (0.82 s → 1.43 s at sf0.1) — the downstream joins already spread
    // the work. The ngram producers below DO fan out (one consumer).
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val vocab = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum("cnt").as("n_total"))
    tok.join(vocab, "tok")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        ((length(bin(col("n_total"))) - 1) - (length(bin(col("cnt"))) - 1)).cast("long").as("bits"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum("bits").as("total_bits"))
      .select(col("doc_id"), col("n_tok"), col("total_bits"),
        expr("total_bits * 1000 DIV n_tok").as("bits_per_tok_x1000"))
      .orderBy("doc_id")
  }

  /** D28: bigram-LM conditional surprisal — the sequel to D22's unigram
    * proxy: per token transition, bits ≈ −log₂ P(w₂ | w₁) with the corpus
    * itself as the LM, P(w₂|w₁) = cnt(w₁w₂) / cnt(w₁·) over predecessor
    * occurrences. floor-log2 EXACTLY as len(bin(x))−1 on both engines (the
    * D22 technique), so no FP log drift. High bits-per-transition = locally
    * incoherent text (the CCNet-style quality axis, one order deeper).
    *
    * Shape: pairs are built positionally inside ONE projection (no
    * self-join on position); pair counts are a map-side-partial groupBy;
    * predecessor counts derive from the (vocab²-sized) pair counts, not
    * another corpus pass; both broadcast back into the pair stream.
    */
  def bigramSurprisal(s: SparkSession, d: String): DataFrame = {
    val w = col("graft_w")
    val pairs = Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"), words(col("text")).as("graft_w"))
      .filter(size(w) >= 2)
      .select(col("doc_id"), explode(
        transform(sequence(lit(0), size(w) - 2), i =>
          struct(element_at(w, i + 1).as("w1"),
            concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2)).as("p")))).as("pr"))
      .select(col("doc_id"), col("pr.w1").as("w1"), col("pr.p").as("p"))
    val pairCnt = pairs.groupBy("w1", "p").agg(count(lit(1)).as("cp"))
    val predCnt = pairCnt.groupBy("w1").agg(sum("cp").as("cw"))
    pairs
      .join(broadcast(pairCnt), Seq("w1", "p"))
      .join(broadcast(predCnt), Seq("w1"))
      .select(col("doc_id"),
        ((length(bin(col("cw"))) - 1) - (length(bin(col("cp"))) - 1)).cast("long").as("bits"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"), sum("bits").as("total_bits"))
      .select(col("doc_id"), col("n_pairs"), col("total_bits"),
        expr("total_bits * 1000 DIV n_pairs").as("bits_per_pair_x1000"))
      .orderBy("doc_id")
  }

  /** D29: DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw document
    * by how target-like its hashed-bigram distribution is. Features are
    * FNV-1a(bigram) & 1023 buckets (power-of-two mask == the oracle's
    * unsigned mod); the target distribution is the lang='en' slice, the
    * raw distribution the whole corpus. Per bigram occurrence in bucket b,
    * with +1/+B Laplace smoothing and floor-log2 exact as len(bin(x))−1:
    *
    *   bits = [fl2(ct_b+1) − fl2(NT+B)] − [fl2(cr_b+1) − fl2(NR+B)]
    *
    * i.e. an integer proxy of log₂ p_target(b) − log₂ p_raw(b); a doc's
    * score is the sum over its occurrences, and selected = score > 0 (a
    * deterministic threshold gate in place of DSIR's Gumbel top-k — no
    * global sort, so selection stays embarrassingly parallel at 100 TB).
    *
    * Shape: bucket stream built positionally in ONE projection (the D28
    * technique); both distributions come from a SINGLE 1024-group
    * aggregation over that stream (count + count-if — the target slice is
    * not a second corpus pass); dist (≤1024 rows) and totals (1 row)
    * broadcast back into the occurrence stream. Corpus scanned twice
    * (dist build + scoring), payload text never shuffled.
    */
  def dsirWeights(s: SparkSession, d: String): DataFrame = {
    val B = 1024
    val w = col("graft_w")
    val occ = Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"), words(col("text")).as("graft_w"))
      .filter(size(w) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(transform(sequence(lit(0), size(w) - 2), i =>
          TextKernels.fnv64(
            concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2)))
            .bitwiseAND(lit((B - 1).toLong)))).as("b"))
    val dist = occ.groupBy("b").agg(
      count(lit(1)).as("cr"),
      count(when(col("lang") === "en", 1)).as("ct"))
    val tot = dist.agg(sum("cr").as("nr"), sum("ct").as("nt"))
    def fl2(c: Column): Column = length(bin(c)) - 1
    occ.join(broadcast(dist), "b")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("lang"),
        ((fl2(col("ct") + 1) - fl2(col("nt") + B)) -
          (fl2(col("cr") + 1) - fl2(col("nr") + B))).cast("long").as("bits"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_pairs"), sum("bits").as("score_bits"))
      .withColumn("selected", col("score_bits") > 0)
      .orderBy("doc_id")
  }

  /** D32: count-based n-gram LM table export (the Google-ngram/KenLM prep
    * workload): all corpus trigrams with occurrence count and document
    * frequency, pruned at count ≥ 3 — the pruning IS the point at scale:
    * the full trigram table is corpus-sized, the pruned table is the
    * Zipf head. Positional pair construction (the D28 technique), one
    * groupBy with map-side partials; df via conditional count of
    * first-occurrence-in-doc flags computed positionally, NOT a second
    * distinct aggregation.
    */
  def ngramLm(s: SparkSession, d: String): DataFrame = {
    val w = col("graft_w")
    Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"), words(col("text")).as("graft_w"))
      .filter(size(w) >= 3)
      .select(col("doc_id"), explode(
        transform(sequence(lit(0), size(w) - 3), i =>
          concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2), element_at(w, i + 3))))
        .as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c_in_doc"))
      .groupBy("g").agg(sum("c_in_doc").as("n"), count(lit(1)).as("df"))
      .filter(col("n") >= 3)
      .orderBy(desc("n"), col("g"))
  }

  val ngramLmOracleSql: String = """
    WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
    g AS (SELECT doc_id,
        unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)]) AS g
      FROM w WHERE len(ws) >= 3),
    pd AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c_in_doc FROM g GROUP BY doc_id, g)
    SELECT g, CAST(sum(c_in_doc) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS df
    FROM pd GROUP BY g HAVING sum(c_in_doc) >= 3
    ORDER BY n DESC, g"""

  /** D30: fixed-size chunking with overlap — the context-window prep step
    * before embedding or training on long documents: 32-token chunks on a
    * 24-token stride (8-token overlap), last chunk truncated, short docs
    * one chunk. Emits the chunk's FNV-1a hash rather than its text so the
    * relation stays narrow (downstream joins carry 16 bytes, not the
    * corpus; the text is reconstructable from (doc_id, start, len)).
    *
    * Shape: chunk starts are computed arithmetically per row and exploded
    * from a `sequence` — no self-join against a positions table, no
    * shuffle at all before the output sort; one corpus scan.
    */
  def docChunk(s: SparkSession, d: String): DataFrame = {
    val C = 32; val S = 24 // chunk, stride (overlap = 8)
    val w = col("graft_w")
    Tables.documents(s, d)
      .select(col("doc_id"), words(col("text")).as("graft_w"))
      .withColumn("n_tok", size(w).cast("long"))
      .withColumn("n_chunks",
        when(col("n_tok") <= C, lit(1L))
          .otherwise(expr(s"(n_tok - $C + ${S - 1}) DIV $S + 1")))
      .select(col("doc_id"), w, col("n_tok"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .withColumn("start_tok", col("chunk_id") * S)
      .withColumn("len_tok", least(lit(C.toLong), col("n_tok") - col("start_tok")))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"), col("len_tok"),
        TextKernels.fnv64(
          concat_ws(" ", slice(w, (col("start_tok") + 1).cast("int"), col("len_tok").cast("int"))))
          .as("chunk_hash"))
      .orderBy("doc_id", "chunk_id")
  }

  /** D25: hashed-linear quality classifier inference — the fastText-shaped
    * gate every production corpus runs (trained weights scoring docs at
    * ingest). Feature hashing (token → FNV-1a mod 64 bucket) means no
    * vocabulary table, fixed memory, and a single codegen'd pass per row —
    * zero shuffle, embarrassingly parallel at any corpus size. The weights
    * here are a deterministic Knuth-hash stand-in (no training data in
    * env); swapping in trained weights changes the array, not the plan.
    * The whole token→bucket→weight→sum fold runs inside the
    * `classifier_logit` kernel because in-SQL FNV (64-bit multiply) would
    * overflow-throw under ANSI mode; the oracle replays it in HUGEINT.
    */
  def classifierScore(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextKernels.classifierLogit(col("text")).as("logit"))
      .withColumn("keep", col("logit") > 0)
      .orderBy("doc_id")

  /** D33: token-distribution drift between two corpus snapshots — the
    * crawl-over-crawl audit every refreshed training set needs (did the
    * new drop's language shift? did a spam cluster arrive?). Snapshots
    * here are the deterministic doc_id parity split; a real run feeds two
    * crawl dates. Per token the score is a support-weighted squared rate
    * difference, `(r_a − r_b)² · (o_a + o_b)` with rates in exact
    * 10⁻⁵ fixed point (`o · 10⁵ DIV n`) — the χ²-flavored ranking signal,
    * integer-exact on both engines (no float log/ratio whose last ulp
    * could differ). Top 50 by score, token tiebreak, so the output is a
    * total order.
    *
    * Shape at 100 TB: ONE corpus pass builds per-side counts in the same
    * vocab-sized map-side-combined aggregate (a side is a CASE inside the
    * agg, not a second scan); totals are a 1-row broadcast; the top-50
    * plans as TakeOrderedAndProject (per-partition heaps, no global
    * sort). The score stays in BIGINT by construction — rate diff ≤ 10⁵
    * so support up to 9·10⁸ fits — and an assert_true turns the bound
    * into a loud error instead of a silent wraparound past it.
    */
  def corpusDrift(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select((col("doc_id") % 2).as("side"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val counts = tok.groupBy("tok").agg(
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("o_a"),
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("o_b"))
    val totals = counts.agg(sum("o_a").as("n_a"), sum("o_b").as("n_b"))
    counts.crossJoin(broadcast(totals))
      .filter(col("o_a") + col("o_b") >= 5)
      .withColumn("r_a", expr("o_a * 100000 DIV n_a"))
      .withColumn("r_b", expr("o_b * 100000 DIV n_b"))
      .filter(expr(
        "assert_true(o_a + o_b < 900000000, " +
          "'corpusDrift: support past 9e8 would overflow the BIGINT score — rescale rates') IS NULL"))
      .withColumn("drift",
        (col("r_a") - col("r_b")) * (col("r_a") - col("r_b")) * (col("o_a") + col("o_b")))
      .select("tok", "o_a", "o_b", "r_a", "r_b", "drift")
      .orderBy(col("drift").desc, col("tok"))
      .limit(50)
  }

  val corpusDriftOracleSql: String = """
    WITH tokc AS (
      SELECT tok,
        CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS o_a,
        CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS o_b
      FROM (SELECT doc_id % 2 AS side,
              unnest(string_split(lower(text), ' ')) AS tok FROM documents) t
      WHERE len(tok) > 0 GROUP BY tok),
    tot AS (SELECT CAST(sum(o_a) AS BIGINT) AS n_a,
                   CAST(sum(o_b) AS BIGINT) AS n_b FROM tokc)
    SELECT tok, o_a, o_b,
      o_a * 100000 // n_a AS r_a,
      o_b * 100000 // n_b AS r_b,
      (o_a * 100000 // n_a - o_b * 100000 // n_b)
        * (o_a * 100000 // n_a - o_b * 100000 // n_b)
        * (o_a + o_b) AS drift
    FROM tokc, tot
    WHERE o_a + o_b >= 5
    ORDER BY drift DESC, tok LIMIT 50"""
}
