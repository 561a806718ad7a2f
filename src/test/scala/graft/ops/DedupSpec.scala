package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  private val s = TestSpark.spark

  test("exact dedup groups normalized duplicates to min doc_id") {
    import s.implicits._
    val docs = Seq(
      (0L, "Hello   World"), (1L, "hello world"), (2L, "different doc"),
      (3L, "HELLO WORLD  ")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("dedup").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.exact(s, tmp).collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq == Seq((0L, 0L, false), (1L, 0L, true), (2L, 2L, false), (3L, 0L, true)))
  }

  test("incremental dedup flags incoming dups of the old corpus, exactly") {
    import s.implicits._
    // old corpus: 1,2,3,4,6 — incoming: 0 (dup of 3), 5 (novel), 10 (dup of 6)
    val docs = Seq(
      (0L, "shared text alpha"), (5L, "totally new doc"), (10L, "Shared  Text BETA "),
      (1L, "one"), (2L, "two"), (3L, "shared text alpha"), (4L, "four"),
      (6L, "shared text beta")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("incdd").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.incremental(s, tmp).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(out.toSeq == Seq((0L, true, 3L), (5L, false, -1L), (10L, true, 6L)))
  }

  test("minhash LSH finds a planted near-dup and skips dissimilar docs") {
    import s.implicits._
    val base = (0 until 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (0 until 60).map(i => if (i == 30) "CHANGED" else s"tok$i").mkString(" ")
    val other = (100 until 160).map(i => s"zzz$i").mkString(" ")
    val docs = Seq((0L, base), (1L, nearDup), (2L, other)).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("mh").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = Dedup.minhash(s, tmp).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((0L, 1L)))
  }

  test("minhash leaves no cache behind and survives repeated invocation") {
    import s.implicits._
    val docs = (0 until 40).map(i => (i.toLong, s"shared prefix tokens here plus tail $i extra words padding out"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("mhc").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    s.sharedState.cacheManager.clearCache()
    val first = Dedup.minhash(s, tmp).count()
    // the corpus-sized shingle cache must be gone WITHOUT any caller-side
    // clearCache (the old cross-file convention); only the pair-sized
    // checkpoint blocks may remain, and ContextCleaner reclaims those
    assert(s.sharedState.cacheManager.isEmpty,
      "minhash left a CacheManager entry behind")
    val second = Dedup.minhash(s, tmp).count()
    assert(first == second)
    assert(s.sharedState.cacheManager.isEmpty)
  }

  test("dedup_spans merges cross-doc repeated windows into maximal spans") {
    import s.implicits._
    val shared = (6 to 15).map(i => s"x$i")                     // 10-token block
    val doc0 = (1 to 20).map(i => s"x$i").mkString(" ")          // holds block at 6..15
    val doc1 = ((1 to 5).map(i => s"p$i") ++ shared ++ (1 to 5).map(i => s"q$i")).mkString(" ")
    val doc2 = (1 to 20).map(i => s"z$i").mkString(" ")          // unrelated
    val doc3 = (((1 to 8) ++ (1 to 8)).map(i => s"r$i")).mkString(" ") // in-doc repeat only
    val docs = Seq((0L, doc0), (1L, doc1), (2L, doc2), (3L, doc3)).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("spans").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.spans(s, tmp).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    // the 10-token block is one merged span in both docs; the unrelated doc
    // and the within-doc-only repeat produce nothing (cross-doc test)
    assert(out.toSeq == Seq((0L, 6, 15, 10), (1L, 6, 15, 10)), out.toSeq.toString)
  }

  test("decontamination flags the eval-copy and spares disjoint docs") {
    import s.implicits._
    val evalText = (0 until 20).map(i => s"eval$i").mkString(" ")     // 18 shingles
    val cleanText = (0 until 20).map(i => s"clean$i").mkString(" ")
    val docs = Seq(
      (0L, evalText, "en", "w", evalText.length.toLong),   // 0 % 23 == 0 → eval slice
      (5L, evalText, "en", "w", evalText.length.toLong),   // contaminated copy
      (7L, cleanText, "en", "w", cleanText.length.toLong)) // disjoint
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("decon").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.decontaminate(s, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((5L, 0L, 18L)), out.toSeq.toString)
  }

  test("minhash signatures are stable and permutation params deterministic") {
    assert(Dedup.permParams(4) == Dedup.permParams(4))
    assert(Dedup.permParams(64).map(_._1).forall(a => a > 0 && a < (1L << 29)))
  }

  test("simhash: small edits stay much closer in hamming than unrelated text") {
    // wide vocab so one changed token can only flip near-zero vote bits
    val words = (0 until 300).map(i => s"w$i")
    val a = TextKernelImpl.simhash64(words.mkString(" "))
    val b = TextKernelImpl.simhash64(words.updated(150, "CHANGED").mkString(" "))
    val c = TextKernelImpl.simhash64((1000 until 1300).map(i => s"z$i").mkString(" "))
    val near = java.lang.Long.bitCount(a ^ b)
    val far = java.lang.Long.bitCount(a ^ c)
    assert(near <= 8, s"near=$near")
    assert(far > 15, s"far=$far")
    assert(near < far)
  }

  test("oversized buckets degrade to a connected star, not silence") {
    import s.implicits._
    // 80 identical docs (> maxBucket=64): every band bucket holds all 80
    val docs = (0L until 80L).map(i => (i, "same tokens repeated here ok " * 5)).toDF("doc_id", "text")
    val pairs = Dedup.candidatePairs(Dedup.signatures(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length == 79, s"star over 80 ids should give 79 pairs, got ${pairs.length}")
    assert(pairs.forall(_._1 == 0L), "star must anchor on the first id")
    assert(pairs.map(_._2).toSet == (1L until 80L).toSet)
  }

  test("containment flags a same-band superset pair that jaccard scores lower") {
    import s.implicits._
    val base = (0 until 40).map(i => s"tok$i").mkString(" ")
    val superset = base + " " + (100 until 110).map(i => s"extra$i").mkString(" ")
    val docs = Seq((0L, "en", base.length.toLong, base), (1L, "en", superset.length.toLong, superset))
      .toDF("doc_id", "lang", "n_chars", "text")
    val tmp = java.nio.file.Files.createTempDirectory("cont").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.containment(s, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    // base has 38 shingles, all contained in superset's 49 → containment 1.0
    assert(out.toSeq == Seq((0L, 1L, 38, 38)))
  }

  test("sorted_inter_count equals size(array_intersect) on kernel output") {
    import s.implicits._
    val docs = Seq(
      (0L, "a b c d e f g"), (1L, "c d e f g h i"), (2L, "z z z z")
    ).toDF("doc_id", "text")
    val sh = Dedup.hashedShingles(docs).collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // kernel output must be sorted (SortedInterCount's contract)
    sh.values.foreach(a => assert(a == a.sorted, a.toString))
    for (x <- sh.keys; y <- sh.keys) {
      val pairs = Seq((sh(x), sh(y))).toDF("a", "b")
      val fast = pairs.selectExpr("sorted_inter_count(a, b)").collect()(0).getInt(0)
      assert(fast == sh(x).toSet.intersect(sh(y).toSet).size, s"$x vs $y")
    }
  }

  test("hashed-shingle kernel counts match the string-shingle Column version") {
    import s.implicits._
    val docs = Seq(
      (0L, "a b c d e f g"), (1L, "one two three"), (2L, "x y"), (3L, "")
    ).toDF("doc_id", "text")
    val fast = Dedup.hashedShingles(docs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).length).toMap
    val slow = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .select(col("doc_id"), size(Dedup.shinglesOfWords(col("w"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // hashedShingles filters empty; string version reports 0
    slow.foreach { case (id, n) =>
      assert(fast.getOrElse(id, 0) == n, s"doc $id")
    }
  }

  test("MinhashSig kernel equals the naive per-permutation minimum") {
    val xs = Array(12345L, 98765L, 42L, 4294967295L)
    val sig = MinhashKernel.sig(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(xs))
    val perms = Dedup.permParams(Dedup.NumPerms)
    perms.zipWithIndex.foreach { case ((a, b), i) =>
      val want = xs.map(x => (a * x + b) % Dedup.MinhashP).min
      assert(sig.getLong(i) == want, s"perm $i")
    }
  }

  test("pairsFromSorted emits all i<j pairs") {
    import s.implicits._
    val df = Seq(Seq(1L, 2L, 3L)).toDF("ids")
      .select(explode(Dedup.pairsFromSorted(col("ids"))).as("p"))
      .select("p.a", "p.b")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("decontaminate_bloom equals exact decontaminate, prefilter in plan") {
    val exact = Dedup.decontaminate(s, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // name → view relation: a re-created view of the same name is a new
    // relation, so this also catches a view an earlier caller left behind
    val catalog = s.sessionState.catalog
    def tempViews() =
      catalog.getTempViewNames().flatMap(n => catalog.getRawTempView(n).map(n -> _)).toMap
    val viewsBefore = tempViews()
    val viaBloom = Dedup.decontaminateBloom(s, TestSpark.sf)
    val viewsAfter = tempViews()
    val changed = (viewsBefore.keySet ++ viewsAfter.keySet).filterNot(n =>
      viewsBefore.get(n).exists(v => viewsAfter.get(n).exists(_ eq v)))
    assert(changed.isEmpty, s"temp views created or replaced: ${changed.mkString(", ")}")
    // a false positive may leak a shingle past the bloom but never a row
    // past the exact verify join — output must be bit-identical
    assert(viaBloom.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == exact)
    // and the prefilter must actually be in the plan as the scalar-subquery
    // membership test, not optimized away
    val p = viaBloom.queryExecution.optimizedPlan.toString
    assert(p.contains("graft_might_contain") || p.toLowerCase.contains("might_contain"), p)
  }

  test("bloom prefilter is tight: a tiny filter still never drops a true hit") {
    // 64 bits for tens of thousands of shingles — saturated filter, ~every
    // probe a "maybe": correctness must come from the verify join alone
    val exact = Dedup.decontaminate(s, TestSpark.sf).count()
    val saturated = Dedup.decontaminateBloom(s, TestSpark.sf, numBits = 64L).count()
    assert(saturated == exact)
  }
}
