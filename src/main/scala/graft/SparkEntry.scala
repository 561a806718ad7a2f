package graft

import graft.etl._
import graft.ops._
import graft.relational.Relational
import graft.sources._
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Driver contract — see SURVEY.md §7.
  *
  * Every operator from SURVEY.md §2 is one [[SparkEntry.Query]] record in
  * `registry`. The driver's two maps, `queries` (the runnable surface) and
  * `oracleSql` (the DuckDB ground truth), and the dev tools' name lists
  * (`Bench.headline`, PLANS.md's sections, `PlanOnly.builders`) are all
  * derived from it, so a query is added, benched or documented in one
  * place.
  *
  * All integral columns are widened to BIGINT and floats to DOUBLE on the
  * way out so both engines hash identical value representations; decimal
  * scales are engineered per-query to agree (see Relational's scaladoc).
  */
object SparkEntry {

  type Builder = (SparkSession, String) => DataFrame

  /** One registered query.
    *
    * @param build     the operator, run against an sf directory
    * @param oracle    equivalent ANSI SQL runnable by DuckDB on the same
    *                  parquet tables; None (sketch-/seed-dependent output)
    *                  gets a rows-only check from the driver and a
    *                  ScalaTest spec here
    * @param bench     1-based position in `Bench.headline`; 0 = not benched
    * @param doc       1-based position in PLANS.md; 0 = not documented
    * @param plan      un-staged builder of the same logical computation,
    *                  for queries whose registered form localCheckpoints or
    *                  returns a proof frame: plan inspection (PlanDoc,
    *                  ExplainDump, AllPlansSpec) sees the whole tree
    * @param planOnly  `build` is a plan that no registered query runs: it
    *                  is documented and plan-guarded, never run by the driver
    */
  final case class Query(
      name: String,
      build: Builder,
      oracle: Option[String] = None,
      bench: Int = 0,
      doc: Int = 0,
      plan: Option[Builder] = None,
      planOnly: Boolean = false)

  /** Cast int-ish → long, float/decimal → double (comparison normalization
    * only). Decimals stay exact INSIDE every query (sums, rank keys,
    * comparisons); only the final output is converted, because the driver's
    * hash gate mismatches on decimal-typed columns (DuckDB widens
    * sum(DECIMAL) to DECIMAL(38,s) / sum(BIGINT) to HUGEINT) while DOUBLE /
    * BIGINT / STRING columns hash identically. Decimal→double is a single
    * correctly-rounded IEEE conversion of the same exact value on both
    * engines, so it stays deterministic.
    */
  private def widen(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case ByteType | ShortType | IntegerType => col(f.name).cast("long").as(f.name)
        case FloatType                          => col(f.name).cast("double").as(f.name)
        case _: DecimalType                     => col(f.name).cast("double").as(f.name)
        case _                                  => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    widen(Relational.q1Agg(spark, "/root/testdata/sf0.001"))

  lazy val queries: Map[String, Builder] = registry.filterNot(_.planOnly)
    .map(q => q.name -> ((s: SparkSession, d: String) => widen(q.build(s, d)))).toMap

  lazy val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Shared by asof_join (composed) and asof_join_native (plan node). */
  private val asofSql: String = """
      SELECT e.event_id, e.user_id, strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
        o.o_orderkey AS matched_order, CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS matched_total
      FROM events e LEFT JOIN orders o
        ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      QUALIFY row_number() OVER (PARTITION BY e.event_id
        ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST) = 1
      ORDER BY e.event_id"""

  /** Shared derived relation for the ETL oracles (mirrors Discovery.databases). */
  private val dbsCte: String =
    """WITH dbs AS (
      |  SELECT lower(replace(n_name, ' ', '_')) || '_core_110_1' AS db FROM nation
      |  UNION ALL SELECT lower(replace(n_name, ' ', '_')) || '_variation_110_1' AS db FROM nation
      |  UNION ALL SELECT db FROM (VALUES ('ensembl_mart_110'),('sequence_mart_110'),('ontology_mart_110'),
      |    ('homo_sapiens_core_110_38'),('homo_sapiens_variation_110_38'),('homo_sapiens_funcgen_110_38'),
      |    ('mus_musculus_core_110_39'),('mus_musculus_variation_110_39')) v(db)
      |)""".stripMargin

  /** DuckDB replay of `Similarity.bucketOf`: the hyperplanes are
    * deterministic integer vectors (seeded LCG), so the sign-pattern
    * bucket id is plain integer SQL over the quantized vector `qv` —
    * which is what lets the LSH-bucketed operators be FULLY
    * SQL-oracle-checked rather than rows-only.
    */
  private def bucketSql(planes: Seq[Seq[Long]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_sum(list_transform(list_zip(qv, ${p.mkString("[", ",", "]")}), t -> t[1]*t[2])) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  private val bucketSqlExpr: String = bucketSql(graft.ops.Similarity.planes())

  /** Shared quantize/norm/bucket CTE prefix for the embedding oracles. */
  private val lshCte: String =
    s"""WITH q AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (SELECT vec_id, qv, CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nq FROM q),
      |b AS (SELECT vec_id, qv, nq, CAST($bucketSqlExpr AS BIGINT) AS bucket FROM n)""".stripMargin

  private lazy val sessionizeSql: String = """
      WITH e AS (SELECT user_id, ts, epoch_us(ts) AS us FROM events),
      x AS (SELECT user_id, ts, us,
        CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
               OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
             THEN 1 ELSE 0 END AS is_new FROM e),
      y AS (SELECT user_id, ts, us,
        sum(is_new) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid FROM x)
      SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_s,
        count(*) AS n_events,
        epoch_us(max(ts)) // 1000000 - epoch_us(min(ts)) // 1000000 AS duration_sec
      FROM y GROUP BY user_id, sid ORDER BY user_id, start_s"""

  // Dup groups = connected components over (exact-dup ∪ jaccard) edges;
  // DuckDB computes the same components via recursive reachability closure
  // (fine at oracle scale — closure is quadratic per component, and dup
  // groups are small). The jaccard stage replays the Spark side exactly:
  // raw-text representative collapse (one rep row per raw text × lang),
  // then capped banded candidates (all pairs when the bucket holds <= 64
  // reps, else a star from the bucket min). Shared by dedup_groups and
  // dedup_keep_best.
  private lazy val dupGroupsCte: String = """
      WITH RECURSIVE
      nk AS (SELECT doc_id, lang, n_chars, text,
          min(doc_id) OVER (PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS keeper,
          min(doc_id) OVER (PARTITION BY md5(text)) AS rkeeper
        FROM documents),
      ex AS (SELECT keeper AS a, doc_id AS b FROM nk WHERE doc_id <> keeper),
      reps AS (SELECT DISTINCT rkeeper AS doc_id, lang, n_chars, text FROM nk),
      d AS (SELECT doc_id, lang, n_chars, string_split(lower(text), ' ') AS w FROM reps),
      s AS (SELECT doc_id, lang, n_chars,
        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS sh FROM d),
      f AS (SELECT * FROM s WHERE len(sh) > 0),
      bk AS (SELECT doc_id, lang, unnest([n_chars // 64, n_chars // 64 + 1]) AS bkt FROM f),
      bsz AS (SELECT lang, bkt, count(*) AS n, min(doc_id) AS mn FROM bk GROUP BY lang, bkt),
      c AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bk x
            JOIN bk y ON x.lang = y.lang AND x.bkt = y.bkt AND x.doc_id < y.doc_id
            JOIN bsz z ON z.lang = x.lang AND z.bkt = x.bkt
            WHERE z.n <= 64 OR x.doc_id = z.mn),
      jc AS (SELECT DISTINCT a, b FROM c JOIN f sa ON sa.doc_id = c.a JOIN f sb ON sb.doc_id = c.b
             WHERE 2 * len(list_distinct(list_intersect(sa.sh, sb.sh))) >= len(list_distinct(list_concat(sa.sh, sb.sh)))),
      e AS (SELECT a, b FROM ex UNION SELECT a, b FROM jc),
      und AS (SELECT a AS src, b AS dst FROM e UNION SELECT b AS src, a AS dst FROM e),
      reach(src, dst) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM und) v
        UNION
        SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
      comp AS (SELECT src AS doc_id, min(dst) AS comp FROM reach GROUP BY src)"""

  /** DuckDB replay of the FULL minhash pipeline (promotes D2 from
    * rows-only): FNV-1a 32-bit shingle hashes (HUGEINT mod-2^64 fold; the
    * per-char XOR only touches the low 7 bits on the all-ASCII corpus, so
    * it is emulated exactly with a BIGINT xor on `h % 128`), the 64
    * universal-hash permutation minima with the SAME (a,b) constants the
    * kernel uses (embedded as literals from Dedup.permParams — a·x < 2^61
    * so plain BIGINT suffices), band keys as the raw 4-sig-value strings
    * (Spark's xxhash64 of that string partitions docs identically — the
    * hash is only a grouping key, never output), the 64-cap star degrade
    * replayed like ngram_jaccard's, and the exact jaccard verify on the
    * hashed-shingle sets.
    */
  private lazy val minhashOracleSql: String = {
    val perms = Dedup.permParams(Dedup.NumPerms)
    val rows = Dedup.NumPerms / Dedup.NumBands
    val sigExprs = perms.zipWithIndex.map { case ((a, b), j) =>
      s"list_min(list_transform(hx, x -> ($a * x + $b) % ${Dedup.MinhashP})) AS s$j"
    }.mkString(",\n        ")
    val bandSelects = (0 until Dedup.NumBands).map { bd =>
      val key = (0 until rows).map(r => s"CAST(s${bd * rows + r} AS VARCHAR)").mkString(" || ':' || ")
      s"SELECT doc_id, $bd AS band, $key AS bh FROM sg"
    }.mkString("\n        UNION ALL ")
    s"""
      WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      ss AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS s
             FROM w WHERE len(w) >= 3),
      fn AS (SELECT doc_id,
          CAST(list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              [CAST(ord(s[i]) AS HUGEINT) for i in range(1, len(s)+1)]),
            (h, c) -> ((h - h % 128 + CAST(xor(CAST(h % 128 AS BIGINT), CAST(c AS BIGINT)) AS HUGEINT))
                       * 1099511628211) % 18446744073709551616::HUGEINT
          ) % 4294967296 AS BIGINT) AS hv
        FROM ss),
      hxx AS (SELECT doc_id, list_sort(list_distinct(list(hv))) AS hx FROM fn GROUP BY doc_id),
      sg AS (SELECT doc_id,
        $sigExprs
        FROM hxx),
      bands AS ($bandSelects),
      bz AS (SELECT band, bh, count(*) AS n, min(doc_id) AS mn FROM bands GROUP BY band, bh),
      c AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
            JOIN bz z ON z.band = x.band AND z.bh = x.bh
            WHERE z.n <= 64 OR x.doc_id = z.mn)
      SELECT a, b,
        CAST(len(list_intersect(ha.hx, hb.hx)) AS BIGINT) AS inter_n,
        CAST(len(ha.hx) + len(hb.hx) - len(list_intersect(ha.hx, hb.hx)) AS BIGINT) AS union_n
      FROM c JOIN hxx ha ON ha.doc_id = c.a JOIN hxx hb ON hb.doc_id = c.b
      WHERE 10 * len(list_intersect(ha.hx, hb.hx))
            >= 7 * (len(ha.hx) + len(hb.hx) - len(list_intersect(ha.hx, hb.hx)))
      ORDER BY a, b"""
  }

  /** DuckDB replay of the FULL simhash pipeline (promotes D3 from
    * rows-only, the last hash-family operator without a SQL oracle):
    * per-token FNV-1a 64-bit hashes (the same HUGEINT mod-2^64 fold as
    * minhashOracleSql — exact on the all-ASCII corpus, guarded by
    * check.py's ascii-guard), the 64 per-bit ±1 occurrence votes as 64
    * conditional sums, the signature rebuilt as a HUGEINT bit sum
    * (sign-converted to BIGINT only for the xor/bit_count verify), the
    * four 16-bit pigeonhole chunks via integer div/mod (identical to the
    * kernel's arithmetic shiftright+mask because the mask discards the
    * sign-extension bits), the 64-cap star degrade replayed like
    * minhash's, and the exact hamming ≤ 3 verify.
    */
  private lazy val simhashOracleSql: String = {
    val votes = (0 until 64).map { b =>
      s"sum(CASE WHEN (hu // ${BigInt(1) << b}::HUGEINT) % 2 = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n        ")
    val sig = (0 until 64).map { b =>
      s"CASE WHEN v$b > 0 THEN ${BigInt(1) << b}::HUGEINT ELSE 0::HUGEINT END"
    }.mkString(" + ")
    s"""
      WITH tok AS (
        SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) AS t
        FROM documents),
      fn AS (
        SELECT doc_id,
          list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              [CAST(ord(t[i]) AS HUGEINT) for i in range(1, len(t)+1)]),
            (h, c) -> ((h - h % 128 + CAST(xor(CAST(h % 128 AS BIGINT), CAST(c AS BIGINT)) AS HUGEINT))
                       * 1099511628211) % 18446744073709551616::HUGEINT
          ) AS hu
        FROM tok),
      v AS (SELECT doc_id,
        $votes
        FROM fn GROUP BY doc_id),
      sigs AS (
        SELECT d.doc_id, COALESCE(($sig), 0::HUGEINT) AS su
        FROM documents d LEFT JOIN v ON v.doc_id = d.doc_id),
      chunks AS (
        SELECT doc_id, ci,
          CAST((su // (CASE ci WHEN 0 THEN 1::HUGEINT WHEN 1 THEN 65536::HUGEINT
                       WHEN 2 THEN 4294967296::HUGEINT ELSE 281474976710656::HUGEINT END))
               % 65536 AS BIGINT) AS cv
        FROM sigs, (SELECT unnest([0,1,2,3]) AS ci)),
      bz AS (SELECT ci, cv, count(*) AS n, min(doc_id) AS mn FROM chunks GROUP BY ci, cv),
      c AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM chunks x JOIN chunks y ON x.ci = y.ci AND x.cv = y.cv AND x.doc_id < y.doc_id
        JOIN bz z ON z.ci = x.ci AND z.cv = x.cv
        WHERE z.n <= 64 OR x.doc_id = z.mn),
      sb AS (SELECT doc_id,
        CAST(su - (CASE WHEN su >= 9223372036854775808::HUGEINT
                   THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END) AS BIGINT) AS s
        FROM sigs)
      SELECT c.a, c.b, CAST(bit_count(xor(sa.s, sb2.s)) AS BIGINT) AS hamming
      FROM c JOIN sb sa ON sa.doc_id = c.a JOIN sb sb2 ON sb2.doc_id = c.b
      WHERE bit_count(xor(sa.s, sb2.s)) <= 3
      ORDER BY a, b"""
  }

  /** Every query, grouped by operator family (SURVEY.md §2). Names are unique. */
  lazy val registry: Seq[Query] = Seq(
    // A. reference ETL surface
    Query("discover_datasets", Discovery.discoverDatasets, oracle = Some(
      Tables.names.map(t => s"SELECT '$t' AS table_name, count(*) AS n_rows FROM $t")
        .mkString("SELECT * FROM (", " UNION ALL ", ") t ORDER BY table_name"))),
    Query("mode_filter", Discovery.modeFilter, oracle = Some(s"""$dbsCte
      SELECT db, contains(db, '_mart_') AS mode_mart, NOT contains(db, '_mart_') AS mode_ensembl
      FROM dbs ORDER BY db""")),
    Query("assert_requested", Discovery.assertRequested, oracle = Some(s"""$dbsCte
      SELECT db FROM (VALUES ('homo_sapiens_core_110_38'),('nation_3_core_110_1'),
        ('danio_rerio_core_110_11'),('no_such_db_99')) r(db)
      WHERE db NOT IN (SELECT db FROM dbs) ORDER BY db""")),
    Query("prioritise", Discovery.prioritise, oracle = Some(s"""$dbsCte
      SELECT db, priority, priority + 2 AS flow FROM (
        SELECT db,
          CAST(CASE WHEN starts_with(db,'homo_sapiens') OR starts_with(db,'mus_musculus') OR starts_with(db,'nation_1') THEN 1 ELSE 0 END
             + CASE WHEN contains(db,'_variation_') OR contains(db,'_funcgen_') THEN 1 ELSE 0 END
             + CASE WHEN starts_with(db,'homo_sapiens') AND contains(db,'_variation_') THEN 1 ELSE 0 END AS BIGINT) AS priority
        FROM dbs) t ORDER BY db""")),
    Query("checksum_md5", Checksums.checksumMd5, oracle = Some("""
      SELECT doc_id, 'doc_' || doc_id || '.txt' AS file, md5(text) AS md5,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents ORDER BY doc_id""")),
    // BSD `sum` re-expressed as a DuckDB char-fold: documents are all-ASCII
    // (checked: octet_length == length), so ord(char) == byte and the 16-bit
    // rotate-add fold over code points reproduces the byte-level checksum.
    Query("checksum_bsd", Checksums.checksumBsd, oracle = Some("""
      SELECT doc_id,
        printf('%05d %d',
          list_reduce(
            list_prepend(0, [ord(text[i]) for i in range(1, len(text)+1)]),
            (acc, x) -> ((acc >> 1) + ((acc & 1) << 15) + x) & 65535),
          (octet_length(encode(text)) + 1023) // 1024) AS bsd_sum
      FROM documents ORDER BY doc_id""")),
    Query("checksum_verify", Checksums.checksumVerify, oracle = Some("""
      SELECT doc_id, expected, actual FROM (
        SELECT doc_id,
          CASE WHEN doc_id % 97 = 0 THEN md5(text || 'CORRUPT') ELSE md5(text) END AS expected,
          md5(text) AS actual
        FROM documents) t
      WHERE actual <> expected ORDER BY doc_id""")),
    Query("mysqldump_roundtrip", MySqlDump.roundtrip, oracle = Some("""
      SELECT doc_id,
        replace(replace(replace(replace(text, chr(92), chr(92)||chr(92)),
          chr(9), chr(92)||'t'), chr(10), chr(92)||'n'), chr(13), chr(92)||'r') AS line,
        TRUE AS ok
      FROM documents ORDER BY doc_id""")),
    Query("split_file_grouping", SplitFiles.query, oracle = Some("""
      WITH f AS (SELECT file FROM (VALUES ('exon.txt.gz'),('gene.0001.txt.gz'),('gene.0002.txt.gz'),
        ('gene.0010.txt.gz'),('transcript.1.txt.gz'),('transcript.2.txt.gz'),('meta data.txt.gz'),
        ('protein_feature.txt.gz'),('CHECKSUMS'),('README')) v(file)
        WHERE file LIKE '%.txt.gz')
      SELECT regexp_extract(file, '^([A-Za-z_0-9 ]+?)(?:\.(\d+))?\.txt\.gz$', 1) AS table_name,
             count(*) AS n_parts, string_agg(file, ',' ORDER BY file) AS parts
      FROM f GROUP BY 1 ORDER BY 1""")),
    Query("compaction_plan", Compaction.query, bench = 38, doc = 64,
      oracle = Some(Compaction.oracleSql)),
    Query("stats_incremental", Incremental.statsIncremental, doc = 66,
      oracle = Some(Incremental.statsOracleSql)),
    Query("release_diff", ReleaseDiff.query, oracle = Some(ReleaseDiff.oracleSql)),
    Query("ivm_join", Incremental.ivmJoin, doc = 67, oracle = Some(Incremental.ivmOracleSql)),
    Query("ivm_retract", Incremental.ivmRetract, bench = 58, doc = 85,
      oracle = Some(Incremental.ivmRetractOracleSql)),
    Query("ddl_parse", SqlDdl.query, oracle = Some("""
      SELECT obj_name, obj_type, CAST(ord AS BIGINT) AS ord, col_name, col_type FROM (VALUES
        ('exon','table',1,'exon_id','decimal(20,0)'),
        ('exon','table',2,'seq','binary'),
        ('exon','table',3,'is_current','tinyint'),
        ('gene','table',1,'gene_id','bigint'),
        ('gene','table',2,'biotype','string'),
        ('gene','table',3,'description','string'),
        ('gene','table',4,'created_date','timestamp'),
        ('gene','table',5,'stable_id','string'),
        ('gene','table',6,'version','int'),
        ('gene','table',7,'score','double'),
        ('gene','table',8,'cost','decimal(10,2)'),
        ('gene','table',9,'status','string'),
        ('gene_view','view',0,'','')) t(obj_name, obj_type, ord, col_name, col_type)
      ORDER BY obj_name, ord""")),
    // A28: statement text and order pinned ONCE in SQL, sequenced the same
    // way the loader issues them — the oracle is the hand-derived statement
    // stream of LoadFiles.pm run(), not a re-run of the Spark derivation.
    Query("load_statements", LoadStatements.query, oracle = Some("""
      WITH dbs(db, has_drop) AS (VALUES
        ('homo_sapiens_core_99_38', 1), ('mus_musculus_core_99_39', 0)),
      ddl(sub, stmt) AS (VALUES
        (0, 'CREATE TABLE `gene` ( `gene_id` int(10) unsigned NOT NULL AUTO_INCREMENT, `biotype` varchar(40) NOT NULL, `description` text, `created_date` datetime NOT NULL, `stable_id` varchar(128) DEFAULT NULL, `version` smallint(5) unsigned, `score` double DEFAULT NULL, `cost` decimal(10,2), `status` enum(''KNOWN'',''NOVEL''), PRIMARY KEY (`gene_id`), KEY `biotype_idx` (`biotype`) ) ENGINE=MyISAM DEFAULT CHARSET=latin1'),
        (1, 'CREATE TABLE `exon` ( `exon_id` bigint unsigned NOT NULL, `seq` blob, `is_current` tinyint(1) DEFAULT ''1'' ) ENGINE=MyISAM'),
        (2, 'CREATE ALGORITHM=UNDEFINED DEFINER=`adm`@`%` SQL SECURITY DEFINER VIEW `gene_view` AS select g.gene_id from gene g')),
      tbls(tbl) AS (VALUES ('exon'), ('gene')),
      parts AS (
        SELECT db, 0 AS stage_rank, '' AS tbl, 0 AS sub, 'drop' AS stage,
          'drop database `' || db || '`' AS stmt FROM dbs WHERE has_drop = 1
        UNION ALL SELECT db, 1, '', 0, 'create', 'create database `' || db || '`' FROM dbs
        UNION ALL SELECT db, 2, '', sub, 'ddl', stmt FROM dbs CROSS JOIN ddl
        UNION ALL SELECT db, 3, tbl, s.sub, s.stage,
          CASE s.stage
            WHEN 'disable_keys' THEN 'alter table `' || tbl || '` disable keys'
            WHEN 'load' THEN 'LOAD DATA LOCAL INFILE ''' || tbl || '.txt'' INTO TABLE `' || tbl || '` FIELDS ESCAPED BY ''\\'''
            WHEN 'enable_keys' THEN 'alter table `' || tbl || '` enable keys'
            ELSE 'analyze table `' || tbl || '`' END
          FROM dbs CROSS JOIN tbls
          CROSS JOIN (VALUES (0,'disable_keys'),(1,'load'),(2,'enable_keys'),(3,'analyze')) s(sub, stage))
      SELECT db,
        CAST(row_number() OVER (PARTITION BY db ORDER BY stage_rank, tbl, sub) AS BIGINT) AS seq,
        stage, stmt
      FROM parts ORDER BY db, seq""")),
    Query("merge_upsert", MergeUpsert.query, oracle = Some("""
      WITH snap AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
      upd AS (
        SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
               o_totalprice + 1.0 AS o_totalprice, o_orderkey % 97 = 0 AS del
        FROM snap WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT mx + i, CAST(i AS BIGINT), 'N', 0.0, false
        FROM (SELECT max(o_orderkey) AS mx FROM snap), range(1, 6) r(i)),
      merged AS (
        SELECT coalesce(u.o_orderkey, s.o_orderkey) AS o_orderkey,
          CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_custkey ELSE s.o_custkey END AS o_custkey,
          CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus ELSE s.o_orderstatus END AS o_orderstatus,
          CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice ELSE s.o_totalprice END AS o_totalprice,
          coalesce(u.del, false) AS del
        FROM snap s FULL OUTER JOIN upd u ON s.o_orderkey = u.o_orderkey)
      SELECT o_orderkey, o_custkey, o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total
      FROM merged WHERE NOT del ORDER BY o_orderkey""")),
    Query("scd2_history", Scd.scd2History, doc = 62, oracle = Some(Scd.scd2OracleSql)),
    Query("scd2_deletes", Scd.scd2Deletes, bench = 59, doc = 86,
      oracle = Some(Scd.scd2DeletesOracleSql)),
    // The partitioned copy must answer identically to the flat table.
    Query("partitioned_scan", PartitionedLayout.query, oracle = Some("""
      SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents WHERE lang IN ('en', 'de')
      GROUP BY lang ORDER BY lang""")),
    Query("grant_ddl", (s, d) => Discovery.grantDdl(s, d), oracle = Some(s"""$dbsCte
      SELECT db, grantee,
        'GRANT SELECT, EXECUTE ON `' || db || '`.* TO ''' || grantee || '''@''%''' AS ddl
      FROM dbs CROSS JOIN (VALUES ('anonymous'),('ensro')) u(grantee)
      ORDER BY db, grantee""")),
    Query("release_paths", ReleasePaths.query, oracle = Some(s"""$dbsCte,
      cfg AS (SELECT * FROM (VALUES
        ('110', '', false), ('110', '', true),
        ('110', 'plants', false), ('110', 'plants', true),
        ('current', '', false), ('current', '', true),
        ('current', 'plants', false), ('current', 'plants', true))
        v(release, division, prerelease)),
      x AS (SELECT db, release, division, prerelease,
          CASE WHEN release <> 'current'
               THEN (CASE WHEN prerelease THEN '.' ELSE '' END) || 'release-' || release
               ELSE release END AS rel_seg,
          CASE WHEN division <> '' THEN '/' || division ELSE '' END AS div_seg
        FROM dbs CROSS JOIN cfg)
      SELECT db, release, division, prerelease,
        '/pub/' || rel_seg || div_seg || '/mysql' AS ftp_path,
        '/nfs/ftpsite' || (CASE WHEN prerelease THEN '/.release-' ELSE '/release-' END)
          || release || div_seg || '/mysql/' || db AS rsync_target
      FROM x ORDER BY db, release, division, prerelease""")),
    // Overwrite-on-retry must equal a fresh load of the flat table; the
    // pinned boolean proves the first-attempt collision actually threw.
    Query("load_retry", LoadGate.query, oracle = Some("""
      SELECT o_orderstatus, count(*) AS n_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total,
        true AS first_attempt_threw
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),
    Query("transfer_plan", Transfer.transferPlan, doc = 50,
      oracle = Some(Transfer.transferPlanOracleSql)),
    Query("rsync_delta", RsyncDeltas.rsyncDeltaQuery, bench = 61, doc = 98,
      oracle = Some(RsyncDeltas.rsyncDeltaOracleSql)),
    Query("snapshot_read", Snapshots.snapshotRead, bench = 63,
      oracle = Some(Snapshots.snapshotReadOracleSql)),
    Query("snapshot_changes", Snapshots.snapshotChanges, bench = 64,
      oracle = Some(Snapshots.snapshotChangesOracleSql)),
    Query("snapshot_compact", Snapshots.snapshotCompact, bench = 71,
      oracle = Some(Snapshots.snapshotCompactOracleSql)),
    Query("snapshot_prune", Snapshots.snapshotPrune, bench = 72,
      oracle = Some(Snapshots.snapshotPruneOracleSql)),
    Query("stream_snapshot_ingest", Snapshots.streamSnapshotIngest, bench = 76,
      oracle = Some(Snapshots.streamSnapshotIngestOracleSql)),
    Query("snapshot_scan", SnapshotSourceQueries.snapshotScan, bench = 86, doc = 100,
      // the registered snapshot_scan returns a literal proof frame;
      // document/guard the REAL source read (FileScan over
      // SnapshotFileIndex, pushed filters, plan-time zone-map skip)
      plan = Some((ss, dd) =>
        SnapshotSourceQueries.snapshotScanPlan(ss, dd)),
      oracle = Some(SnapshotSourceQueries.snapshotScanOracleSql)),
    Query("snapshot_sql", SnapshotSourceQueries.snapshotSql, bench = 87,
      oracle = Some(SnapshotSourceQueries.snapshotSqlOracleSql)),
    Query("snapshot_write", SnapshotSourceQueries.snapshotWrite, bench = 88,
      oracle = Some(SnapshotSourceQueries.snapshotWriteOracleSql)),
    Query("snapshot_txn_sql", SnapshotSourceQueries.snapshotTxnSql, bench = 91,
      oracle = Some(SnapshotSourceQueries.snapshotTxnSqlOracleSql)),
    Query("stream_snapshot_sink", SnapshotSourceQueries.streamSnapshotSink, bench = 90,
      oracle = Some(SnapshotSourceQueries.streamSnapshotSinkOracleSql)),
    Query("stream_snapshot_source", SnapshotSourceQueries.streamSnapshotSource, bench = 89,
      oracle = Some(SnapshotSourceQueries.streamSnapshotSourceOracleSql)),
    Query("stream_cdf", SnapshotSourceQueries.streamCdf, bench = 108,
      oracle = Some(SnapshotSourceQueries.streamCdfOracleSql)),
    Query("stream_upsert", SnapshotSourceQueries.streamUpsert, bench = 110,
      oracle = Some(SnapshotSourceQueries.streamUpsertOracleSql)),
    Query("stream_mirror", SnapshotSourceQueries.streamMirror, bench = 111,
      oracle = Some(SnapshotSourceQueries.streamMirrorOracleSql)),
    Query("catalog_sql", GraftCatalogQueries.catalogSql, bench = 92,
      oracle = Some(GraftCatalogQueries.catalogSqlOracleSql)),
    Query("catalog_prune", GraftCatalogQueries.catalogPrune, bench = 93, doc = 101,
      // likewise for the catalog: the REAL DSv2 read tree (BatchScan over
      // SnapshotV2FileIndex) instead of catalog_prune's literal frame
      plan = Some((ss, dd) =>
        GraftCatalogQueries.catalogPrunePlan(ss, dd)),
      oracle = Some(GraftCatalogQueries.catalogPruneOracleSql)),
    Query("catalog_delete", GraftCatalogQueries.catalogDelete, bench = 94,
      oracle = Some(GraftCatalogQueries.catalogDeleteOracleSql)),
    Query("catalog_update", GraftCatalogQueries.catalogUpdate, bench = 95,
      oracle = Some(GraftCatalogQueries.catalogUpdateOracleSql)),
    Query("catalog_merge", GraftCatalogQueries.catalogMerge, bench = 96,
      oracle = Some(GraftCatalogQueries.catalogMergeOracleSql)),
    Query("catalog_mor_update", GraftCatalogQueries.catalogMorUpdate, bench = 100,
      oracle = Some(GraftCatalogQueries.catalogMorUpdateOracleSql)),
    Query("catalog_mor_part", GraftCatalogQueries.catalogMorPart, bench = 105,
      oracle = Some(GraftCatalogQueries.catalogMorPartOracleSql)),
    Query("catalog_mor_multi", GraftCatalogQueries.catalogMorMulti, bench = 119,
      oracle = Some(GraftCatalogQueries.catalogMorMultiOracleSql)),
    Query("catalog_mor_read", GraftCatalogQueries.catalogMorReadPlan, doc = 102, planOnly = true),
    Query("stream_catalog_cdf", GraftCatalogQueries.streamCatalogCdf, bench = 120,
      oracle = Some(GraftCatalogQueries.streamCatalogCdfOracleSql)),
    Query("catalog_widen", GraftCatalogQueries.catalogWiden, bench = 106,
      oracle = Some(GraftCatalogQueries.catalogWidenOracleSql)),
    Query("catalog_pos_delete", GraftCatalogQueries.catalogPosDelete, bench = 107,
      oracle = Some(GraftCatalogQueries.catalogPosDeleteOracleSql)),
    Query("catalog_timetravel", GraftCatalogQueries.catalogTimetravel, bench = 109,
      oracle = Some(GraftCatalogQueries.catalogTimetravelOracleSql)),
    Query("catalog_dpp", GraftCatalogQueries.catalogDpp, bench = 113,
      oracle = Some(GraftCatalogQueries.catalogDppOracleSql)),
    Query("catalog_dpp_date", GraftCatalogQueries.catalogDppDate, bench = 121,
      oracle = Some(GraftCatalogQueries.catalogDppDateOracleSql)),
    Query("catalog_dpp_ts", GraftCatalogQueries.catalogDppTs, bench = 125,
      oracle = Some(GraftCatalogQueries.catalogDppTsOracleSql)),
    Query("catalog_cdf_batch", GraftCatalogQueries.catalogCdfBatch, bench = 126,
      oracle = Some(GraftCatalogQueries.catalogCdfBatchOracleSql)),
    Query("catalog_merge_evolve", GraftCatalogQueries.catalogMergeEvolve, bench = 127,
      oracle = Some(GraftCatalogQueries.catalogMergeEvolveOracleSql)),
    Query("catalog_partitions", GraftCatalogQueries.catalogPartitions, bench = 123,
      oracle = Some(GraftCatalogQueries.catalogPartitionsOracleSql)),
    Query("catalog_respec", GraftCatalogQueries.catalogRespec, bench = 122,
      oracle = Some(GraftCatalogQueries.catalogRespecOracleSql)),
    Query("catalog_clustered_write", GraftCatalogQueries.catalogClusteredWrite, bench = 124,
      oracle = Some(GraftCatalogQueries.catalogClusteredWriteOracleSql)),
    Query("catalog_limit_push", GraftCatalogQueries.catalogLimitPush, bench = 132,
      oracle = Some(GraftCatalogQueries.catalogLimitPushOracleSql)),
    Query("catalog_clone", GraftCatalogQueries.catalogClone, bench = 134,
      oracle = Some(GraftCatalogQueries.catalogCloneOracleSql)),
    Query("catalog_analyze", GraftCatalogQueries.catalogAnalyze, bench = 135,
      oracle = Some(GraftCatalogQueries.catalogAnalyzeOracleSql)),
    Query("catalog_meta_delete", GraftCatalogQueries.catalogMetaDelete, bench = 136,
      oracle = Some(GraftCatalogQueries.catalogMetaDeleteOracleSql)),
    Query("catalog_analyze_incr", GraftCatalogQueries.catalogAnalyzeIncr, bench = 137,
      oracle = Some(GraftCatalogQueries.catalogAnalyzeIncrOracleSql)),
    Query("catalog_wap", GraftCatalogQueries.catalogWap, bench = 138,
      oracle = Some(GraftCatalogQueries.catalogWapOracleSql)),
    Query("catalog_topn_push", GraftCatalogQueries.catalogTopnPush, bench = 133,
      oracle = Some(GraftCatalogQueries.catalogTopnPushOracleSql)),
    Query("catalog_spj", GraftCatalogQueries.catalogSpj, bench = 114,
      oracle = Some(GraftCatalogQueries.catalogSpjOracleSql)),
    Query("catalog_bucket", GraftCatalogQueries.catalogBucket, bench = 115,
      oracle = Some(GraftCatalogQueries.catalogBucketOracleSql)),
    Query("catalog_sorted", GraftCatalogQueries.catalogSorted, bench = 116,
      oracle = Some(GraftCatalogQueries.catalogSortedOracleSql)),
    Query("catalog_agg_push", GraftCatalogQueries.catalogAggPush, bench = 117,
      oracle = Some(GraftCatalogQueries.catalogAggPushOracleSql)),
    Query("catalog_mor_bucket", GraftCatalogQueries.catalogMorBucket, bench = 118,
      oracle = Some(GraftCatalogQueries.catalogMorBucketOracleSql)),
    Query("catalog_adopt", GraftCatalogQueries.catalogAdopt, bench = 112,
      oracle = Some(GraftCatalogQueries.catalogAdoptOracleSql)),
    Query("catalog_sync", GraftCatalogQueries.catalogSync, bench = 101,
      oracle = Some(GraftCatalogQueries.catalogSyncOracleSql)),
    Query("catalog_overwrite", GraftCatalogQueries.catalogOverwrite, bench = 102,
      oracle = Some(GraftCatalogQueries.catalogOverwriteOracleSql)),
    Query("catalog_rename", GraftCatalogQueries.catalogRename, bench = 103,
      oracle = Some(GraftCatalogQueries.catalogRenameOracleSql)),
    Query("stream_catalog_source", GraftCatalogQueries.streamCatalogSource, bench = 97,
      oracle = Some(GraftCatalogQueries.streamCatalogSourceOracleSql)),
    Query("stream_catalog_paced", GraftCatalogQueries.streamCatalogPaced, bench = 128,
      oracle = Some(GraftCatalogQueries.streamCatalogPacedOracleSql)),
    Query("stream_catalog_sink", GraftCatalogQueries.streamCatalogSink, bench = 129,
      oracle = Some(GraftCatalogQueries.streamCatalogSinkOracleSql)),
    Query("stream_catalog_matview", GraftCatalogQueries.streamCatalogMatview, bench = 130,
      oracle = Some(GraftCatalogQueries.streamCatalogMatviewOracleSql)),
    Query("catalog_compact_small", GraftCatalogQueries.catalogCompactSmall, bench = 131,
      oracle = Some(GraftCatalogQueries.catalogCompactSmallOracleSql)),
    Query("catalog_meta", GraftCatalogQueries.catalogMeta, bench = 98,
      oracle = Some(GraftCatalogQueries.catalogMetaOracleSql)),
    Query("catalog_call", GraftCatalogQueries.catalogCall, bench = 99,
      oracle = Some(GraftCatalogQueries.catalogCallOracleSql)),
    Query("snapshot_point", Snapshots.snapshotPoint, bench = 73,
      oracle = Some(Snapshots.snapshotPointOracleSql)),
    Query("snapshot_delete", Snapshots.snapshotDelete, bench = 74,
      oracle = Some(Snapshots.snapshotDeleteOracleSql)),
    Query("snapshot_upsert", Snapshots.snapshotUpsert, bench = 75,
      oracle = Some(Snapshots.snapshotUpsertOracleSql)),
    Query("snapshot_cdf", Snapshots.snapshotCdf, bench = 104,
      oracle = Some(Snapshots.snapshotCdfOracleSql)),
    Query("snapshot_evolve", Snapshots.snapshotEvolve, bench = 78,
      oracle = Some(Snapshots.snapshotEvolveOracleSql)),
    Query("snapshot_occ", Snapshots.snapshotOcc, bench = 79,
      oracle = Some(Snapshots.snapshotOccOracleSql)),
    Query("snapshot_zorder", Snapshots.snapshotZorder, bench = 80,
      oracle = Some(Snapshots.snapshotZorderOracleSql)),
    Query("snapshot_overwrite", Snapshots.snapshotOverwrite, bench = 81,
      oracle = Some(Snapshots.snapshotOverwriteOracleSql)),
    Query("snapshot_branch", Snapshots.snapshotBranch, bench = 82,
      oracle = Some(Snapshots.snapshotBranchOracleSql)),
    Query("snapshot_meta", Snapshots.snapshotMeta, bench = 83,
      oracle = Some(Snapshots.snapshotMetaOracleSql)),
    Query("snapshot_wap", Snapshots.snapshotWap, bench = 84,
      oracle = Some(Snapshots.snapshotWapOracleSql)),
    Query("snapshot_txn", TxnCatalog.snapshotTxn, bench = 85,
      oracle = Some(TxnCatalog.snapshotTxnOracleSql)),
    Query("job_semaphores", Lanes.semaphores, doc = 51, oracle = Some("""
      WITH j AS (SELECT 'db_' || (user_id % 20) AS db,
          CASE WHEN value < 0.2 THEN 'FAILED' ELSE 'DONE' END AS status FROM events)
      SELECT db, CAST(count(*) AS BIGINT) AS n_fan,
        CAST(count(*) FILTER (WHERE status = 'DONE') AS BIGINT) AS n_done,
        CAST(count(*) FILTER (WHERE status = 'FAILED') AS BIGINT) AS n_failed,
        CAST(count(*) - count(*) FILTER (WHERE status = 'DONE') AS BIGINT) AS sema_count,
        (count(*) = count(*) FILTER (WHERE status = 'DONE')) AS released,
        (count(*) FILTER (WHERE status = 'FAILED') * 100 // count(*) <= 10) AS within_tolerance
      FROM j GROUP BY db ORDER BY db""")),
    Query("job_schedule", Lanes.schedule, doc = 52, oracle = Some("""
      WITH j AS (SELECT event_id AS job_id, event_type AS stage, ts,
          CAST(3 + length(event_type) % 3 AS BIGINT) AS capacity
        FROM events),
      r AS (SELECT job_id, stage, capacity,
          CAST(row_number() OVER (PARTITION BY stage ORDER BY ts, job_id) AS BIGINT) AS rnk
        FROM j)
      SELECT job_id, stage, capacity, rnk, (rnk - 1) // capacity + 1 AS wave
      FROM r ORDER BY job_id""")),
    // Released pass emits every grant; the prerelease pass is the
    // reference's Grant.pm:78 gate — it contributes ZERO rows by
    // construction (WHERE false), proving the empty-grant path.
    Query("grant_prerelease", Discovery.grantPrerelease, oracle = Some(s"""$dbsCte
      SELECT db, grantee,
        'GRANT SELECT, EXECUTE ON `' || db || '`.* TO ''' || grantee || '''@''%''' AS ddl,
        false AS prerelease
      FROM dbs CROSS JOIN (VALUES ('anonymous'),('ensro')) u(grantee)
      UNION ALL
      SELECT db, grantee, '' AS ddl, true AS prerelease
      FROM dbs CROSS JOIN (VALUES ('anonymous'),('ensro')) u2(grantee) WHERE false
      ORDER BY db, grantee""")),
    Query("job_email", Discovery.jobEmail, oracle = Some("""
      WITH j AS (SELECT event_type AS stage, 'db_' || (user_id % 20) AS db,
          CASE WHEN value < 0.2 THEN 'FAILED' ELSE 'DONE' END AS status FROM events),
      agg AS (SELECT stage,
          count(DISTINCT CASE WHEN status = 'DONE' THEN db END) AS ns,
          count(DISTINCT CASE WHEN status = 'FAILED' THEN db END) AS nf
        FROM j GROUP BY stage),
      sl AS (SELECT 10 + row_number() OVER (ORDER BY stage) AS seq,
          '  * ' || ns || ' databases successfully ' || stage || ' (' || nf || ' failed)' AS line
        FROM agg),
      fl AS (SELECT 1000 + row_number() OVER (ORDER BY job_id) AS seq, line FROM (
          SELECT event_id AS job_id,
            '  * job_id=' || event_id || ' ' || event_type || ' input_id=''db_' || (user_id % 20) || '''' AS line
          FROM events WHERE value < 0.2 ORDER BY job_id LIMIT 100) t)
      SELECT CAST(seq AS BIGINT) AS seq, line FROM (
        SELECT * FROM (VALUES (0, 'Your Ensembl Mirrors Pipeline has finished. We have:'),
          (500, ''),
          (501, 'The following jobs have failed during this run. Please check your hive''s error msg table for the following jobs:'),
          (502, '')) v(seq, line)
        UNION ALL SELECT seq, line FROM sl
        UNION ALL SELECT seq, line FROM fl) z
      ORDER BY seq""")),
    Query("job_summary", Discovery.jobSummary, oracle = Some("""
      WITH j AS (SELECT event_type AS stage, 'db_' || (user_id % 20) AS db,
        CASE WHEN value < 0.2 THEN 'FAILED' ELSE 'DONE' END AS status FROM events)
      SELECT stage,
        count(DISTINCT CASE WHEN status = 'DONE' THEN db END) AS n_success_dbs,
        count(DISTINCT CASE WHEN status = 'FAILED' THEN db END) AS n_failed_dbs,
        count(*) AS n_jobs
      FROM j GROUP BY stage ORDER BY stage""")),
    Query("job_failures", Discovery.jobFailures, oracle = Some("""
      SELECT job_id, stage, db,
        '  * job_id=' || job_id || ' ' || stage || ' input_id=''' || db || '''' AS line
      FROM (SELECT event_id AS job_id, event_type AS stage, 'db_' || (user_id % 20) AS db
            FROM events WHERE value < 0.2) t
      ORDER BY job_id LIMIT 100""")),
    Query("table_stats", TableStats.query, oracle = Some("""
      SELECT * FROM (
        SELECT 'l_quantity' AS col_name, count(*) AS n_rows, count(DISTINCT l_quantity) AS n_distinct,
          CAST(CAST(min(l_quantity) AS DECIMAL(18,4)) AS VARCHAR) AS min_s,
          CAST(CAST(max(l_quantity) AS DECIMAL(18,4)) AS VARCHAR) AS max_s FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', count(*), count(DISTINCT l_extendedprice),
          CAST(CAST(min(l_extendedprice) AS DECIMAL(18,4)) AS VARCHAR),
          CAST(CAST(max(l_extendedprice) AS DECIMAL(18,4)) AS VARCHAR) FROM lineitem
        UNION ALL
        SELECT 'l_discount', count(*), count(DISTINCT l_discount),
          CAST(CAST(min(l_discount) AS DECIMAL(18,4)) AS VARCHAR),
          CAST(CAST(max(l_discount) AS DECIMAL(18,4)) AS VARCHAR) FROM lineitem
        UNION ALL
        SELECT 'l_returnflag', count(*), count(DISTINCT l_returnflag),
          min(l_returnflag), max(l_returnflag) FROM lineitem
        UNION ALL
        SELECT 'l_shipdate', count(*), count(DISTINCT l_shipdate),
          strftime(min(l_shipdate), '%Y-%m-%d'), strftime(max(l_shipdate), '%Y-%m-%d') FROM lineitem
      ) t ORDER BY col_name""")),
    Query("dq_audit", DataQuality.audit, bench = 47, doc = 75,
      oracle = Some(DataQuality.auditOracleSql)),
    // A28: the executed orchestrator trace and its relational twin sit
    // under the SAME oracle — the hash gate proves the runtime implements
    // the declared retry/tolerance/skip semantics.
    Query("dag_plan", Dag.dagPlan, doc = 97, oracle = Some(Dag.oracleSql(dbsCte))),
    Query("dag_run", Dag.dagRun, bench = 55, oracle = Some(Dag.oracleSql(dbsCte))),
    Query("priority_lanes", Lanes.lanesQuery, oracle = Some(s"""$dbsCte
      SELECT db, priority + 2 AS flow,
        CASE priority + 2 WHEN 2 THEN 'basic' WHEN 3 THEN 'high'
          WHEN 4 THEN 'highest' WHEN 5 THEN 'human_variation' END AS pool
      FROM (
        SELECT db,
          CAST(CASE WHEN starts_with(db,'homo_sapiens') OR starts_with(db,'mus_musculus') OR starts_with(db,'nation_1') THEN 1 ELSE 0 END
             + CASE WHEN contains(db,'_variation_') OR contains(db,'_funcgen_') THEN 1 ELSE 0 END
             + CASE WHEN starts_with(db,'homo_sapiens') AND contains(db,'_variation_') THEN 1 ELSE 0 END AS BIGINT) AS priority
        FROM dbs) t ORDER BY db""")),
    Query("corpus_io", CorpusIO.query, oracle = Some("""
      SELECT doc_id, md5(text) AS text_md5, n_chars FROM documents
      UNION ALL SELECT -1, 'QUARANTINED', 3
      ORDER BY doc_id""")),
    Query("corpus_io_formats", CorpusIO.formatsQuery, oracle = Some(CorpusIO.formatsOracleSql)),
    Query("schema_evolution", CorpusIO.schemaEvolution,
      oracle = Some(CorpusIO.schemaEvolutionOracleSql)),
    Query("bucketed_join", relational.Bucketing.query, oracle = Some("""
      SELECT o_orderstatus, count(*) AS n_lines,
        CAST(sum(CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS sum_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")),
    // B. relational core
    Query("q1_agg", Relational.q1Agg, bench = 1, doc = 1, oracle = Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS sum_base_price,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        CAST(sum(CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) / count(*) AS avg_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) / count(*) AS avg_price,
        count(*) AS count_order
      FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-01-01'
      GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")),
    Query("q3_topk", Relational.q3TopK, bench = 2, doc = 2, oracle = Some("""
      SELECT o_orderkey, order_date, CAST(revenue AS DOUBLE) AS revenue FROM (
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
          sum(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS revenue
        FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1999-01-01'
          AND l_shipdate > TIMESTAMP '1999-01-01'
        GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, o_orderkey LIMIT 10) t""")),
    Query("q5_join", Relational.q5Join, bench = 3, doc = 3, oracle = Some("""
      SELECT n_name,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      FROM region JOIN nation ON n_regionkey = r_regionkey
        JOIN customer ON c_nationkey = n_nationkey
        JOIN orders ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
      WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY n_name ORDER BY revenue DESC, n_name""")),
    Query("q_window", Relational.qWindow, bench = 4, doc = 4, oracle = Some("""
      WITH m AS (
        SELECT l_suppkey, strftime(l_shipdate, '%Y-%m') AS month,
          sum(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS revenue
        FROM lineitem GROUP BY 1, 2)
      SELECT month, l_suppkey, CAST(revenue AS DOUBLE) AS revenue,
        CAST(row_number() OVER (PARTITION BY month ORDER BY revenue DESC, l_suppkey) AS BIGINT) AS rnk,
        CAST(lag(revenue) OVER (PARTITION BY l_suppkey ORDER BY month) AS DOUBLE) AS prev_rev
      FROM m QUALIFY rnk <= 5 ORDER BY month, rnk""")),
    Query("q_rollup", Relational.qRollup, oracle = Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS flag, coalesce(l_linestatus, 'ALL') AS status,
        CAST(sum(CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS sum_qty, count(*) AS n,
        CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY gid, flag, status""")),
    Query("q_cube", Relational.qCube, doc = 21, oracle = Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS flag, coalesce(l_linestatus, 'ALL') AS status,
        CAST(sum(CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS sum_qty, count(*) AS n,
        CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
      FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      ORDER BY gid, flag, status""")),
    Query("q_semijoin", Relational.qSemiJoin, oracle = Some("""
      SELECT c_mktsegment,
        CAST(count(CASE WHEN ex THEN 1 END) AS BIGINT) AS n_with,
        CAST(count(CASE WHEN NOT ex THEN 1 END) AS BIGINT) AS n_without
      FROM (SELECT c_mktsegment, EXISTS(SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS ex
            FROM customer) t
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),
    Query("q_setops", Relational.qSetOps, oracle = Some("""
      WITH a AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
           b AS (SELECT o_custkey AS k FROM orders GROUP BY o_custkey HAVING count(*) >= 15)
      SELECT 'both' AS tag, k FROM (SELECT k FROM a INTERSECT SELECT k FROM b) x
      UNION ALL
      SELECT 'building_only' AS tag, k FROM (SELECT k FROM a EXCEPT SELECT k FROM b) y
      ORDER BY tag, k""")),
    Query("q_distinct", Relational.qDistinct, oracle = Some("""
      SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts,
        count(DISTINCT l_suppkey) AS distinct_supps, count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),
    // rows-only: the HLL sketch is spec-verified (its oracled twin is q_kmv_distinct)
    Query("q_approx_distinct", Relational.qApproxDistinct, oracle = None),
    // the KMV sketch replayed exactly: FNV-1a 64 as the dsir_weights
    // HUGEINT fold (partkey strings are pure digits, all < 128), then the
    // fnv64mix golden-ratio finalizer — wrap-multiply mod 2^64, top 63
    // bits — matching Spark's `(fnv * C) >>> 1`; the k smallest DISTINCT
    // hashes are just ORDER BY uh LIMIT k per group
    Query("q_kmv_distinct", Relational.qKmvDistinct, bench = 29, doc = 47, oracle = Some("""
      WITH f0 AS (SELECT l_returnflag,
          list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              [CAST(ord(ps[i]) AS HUGEINT) for i in range(1, len(ps)+1)]),
            (h, c) -> ((h - h % 128 + CAST(xor(CAST(h % 128 AS BIGINT), CAST(c AS BIGINT)) AS HUGEINT))
                       * 1099511628211) % 18446744073709551616::HUGEINT
          ) AS fv
        FROM (SELECT l_returnflag, CAST(l_partkey AS VARCHAR) AS ps FROM lineitem) t),
      -- wrap-multiply by the mix constant mod 2^64 in hi/lo 32-bit halves:
      -- a full 64x64 product overflows INT128
      f AS (SELECT DISTINCT l_returnflag,
          CAST((((fv // 4294967296) * 11400714819323198485::HUGEINT
                  % 18446744073709551616::HUGEINT * 4294967296
                + (fv % 4294967296) * 11400714819323198485::HUGEINT)
               % 18446744073709551616::HUGEINT) // 2 AS BIGINT) AS uh
        FROM f0),
      r AS (SELECT l_returnflag, uh,
          row_number() OVER (PARTITION BY l_returnflag ORDER BY uh) AS rk
        FROM f)
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS k_actual,
        max(uh) AS kth_hash,
        CAST(CASE WHEN count(*) < 256 THEN count(*)
          ELSE 255 * 9223372036854775808::HUGEINT // max(uh) END AS BIGINT) AS est_distinct
      FROM r WHERE rk <= 256
      GROUP BY l_returnflag ORDER BY l_returnflag""")),
    Query("q_subquery", Relational.qSubquery, oracle = Some("""
      SELECT p_brand, count(*) AS n_above FROM (
        SELECT p_brand, CAST(p_retailprice AS DECIMAL(9,2)) AS pr,
          sum(CAST(p_retailprice AS DECIMAL(9,2))) OVER (PARTITION BY p_brand) AS sp,
          count(*) OVER (PARTITION BY p_brand) AS np
        FROM part) x
      WHERE pr * np > sp GROUP BY p_brand ORDER BY p_brand""")),
    Query("asof_join", Relational.asofJoin, doc = 5, oracle = Some(asofSql)),
    // the native plan node must agree with the SAME ground truth as the
    // composed union-window form
    Query("asof_join_native", Relational.asofJoinNative, bench = 27, doc = 42,
      oracle = Some(asofSql)),
    Query("range_join", Relational.rangeJoin, doc = 6, oracle = Some("""
      SELECT band, count(*) AS n_parts, CAST(sum(CAST(p_retailprice AS DECIMAL(9,2))) AS DOUBLE) AS sum_retail
      FROM part JOIN (VALUES ('tiny',1,10),('small',11,20),('medium',21,35),('large',36,50)) b(band,lo,hi)
        ON p_size BETWEEN lo AND hi
      GROUP BY band ORDER BY band""")),
    Query("range_join_banded", Relational.rangeJoinBanded, bench = 62, doc = 99,
      oracle = Some(relational.Relational.rangeJoinBandedOracleSql)),
    Query("q_bitmap_distinct", Relational.qBitmapDistinct, doc = 15, oracle = Some("""
      SELECT l_returnflag, count(DISTINCT l_partkey) AS bm_parts,
        count(DISTINCT l_suppkey) AS bm_supps
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),
    Query("q_percentile", Relational.qPercentile, oracle = Some("""
      SELECT l_returnflag,
        quantile_cont(l_quantity, 0.25) AS qty_p25,
        quantile_cont(l_quantity, 0.5) AS qty_p50,
        quantile_cont(l_quantity, 0.75) AS qty_p75,
        round(quantile_cont(l_extendedprice, 0.9), 4) AS price_p90
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),
    // B17b computes the SAME definition sort-free; the oracle is
    // deliberately identical to q_percentile's — the claim under test is
    // that the histogram form reproduces quantile_cont exactly.
    Query("q_quantile_hist", Relational.qQuantileHist, bench = 36, doc = 63, oracle = Some("""
      SELECT l_returnflag,
        quantile_cont(l_quantity, 0.25) AS qty_p25,
        quantile_cont(l_quantity, 0.5) AS qty_p50,
        quantile_cont(l_quantity, 0.75) AS qty_p75,
        round(quantile_cont(l_extendedprice, 0.9), 4) AS price_p90
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),
    Query("q_json", Relational.qJson, oracle = Some("""
      SELECT k % 10 AS k_bucket, count(*) AS n, count(DISTINCT user_id) AS n_users,
        CAST(sum(k) AS BIGINT) AS sum_k
      FROM (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, user_id FROM events) t
      GROUP BY 1 ORDER BY 1""")),
    Query("q_pivot", Relational.qPivot, oracle = Some("""
      SELECT user_id % 10 AS user_bucket,
        count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        count(CASE WHEN event_type = 'view' THEN 1 END) AS view
      FROM events GROUP BY 1 ORDER BY 1""")),
    Query("q_mincost", Relational.qMinCost, oracle = Some("""
      SELECT l_partkey, l_suppkey AS best_supp, CAST(cost AS DOUBLE) AS min_cost FROM (
        SELECT l_partkey, l_suppkey, min(CAST(l_extendedprice AS DECIMAL(9,2))) AS cost
        FROM lineitem WHERE l_partkey < 100 GROUP BY 1, 2) t
      QUALIFY row_number() OVER (PARTITION BY l_partkey ORDER BY cost, l_suppkey) = 1
      ORDER BY l_partkey""")),
    Query("q_custdist", Relational.qCustDist, oracle = Some("""
      SELECT c_count, count(*) AS custdist FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey) t
      GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")),
    // The oracle keeps the textbook three-scan correlated form; the Spark
    // side derives both EXISTS predicates from one scan (see qWaiting).
    Query("q_waiting", Relational.qWaiting, doc = 18, oracle = Some("""
      SELECT s_name, count(*) AS numwait
      FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
      WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.l_returnflag = 'R')
      GROUP BY s_name ORDER BY numwait DESC, s_name""")),
    Query("ann_ivf", (s, d) => Similarity.annIvf(s, d), doc = 12, oracle = Some("""
      WITH q0 AS (SELECT vec_id, label,
          list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        FROM embeddings),
      e AS (SELECT vec_id, label, qv,
          CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nq FROM q0),
      px AS (SELECT label, qv, unnest(range(1, len(qv)+1)) AS pos FROM e),
      cell AS (SELECT label, pos, qv[pos] AS v FROM px),
      cent AS (SELECT label, pos, CAST(sum(v) AS DOUBLE) / count(*) AS cv
               FROM cell GROUP BY label, pos),
      cl AS (SELECT label, list(cv ORDER BY pos) AS centroid FROM cent GROUP BY label),
      qs AS (SELECT vec_id AS qid, qv AS qq, nq AS nqq FROM e WHERE vec_id < 5),
      pd AS (SELECT qid, qq, nqq, label,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(list_zip(qq, centroid),
                t -> (CAST(t[1] AS DOUBLE) - t[2]) * (CAST(t[1] AS DOUBLE) - t[2]))),
            (acc, v) -> acc + v) AS cdist
        FROM qs CROSS JOIN cl),
      pr AS (SELECT qid, qq, nqq, label FROM pd
             QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cdist, label) <= 3),
      cand AS (SELECT pr.qid, e.vec_id,
          CAST(list_sum(list_transform(list_zip(pr.qq, e.qv), t -> t[1] * t[2])) AS BIGINT)
            / (sqrt(CAST(pr.nqq AS DOUBLE)) * sqrt(CAST(e.nq AS DOUBLE))) AS cos
        FROM pr JOIN e ON e.label = pr.label AND e.vec_id <> pr.qid)
      SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk,
        vec_id, round(cos, 6) AS cos_r
      FROM cand QUALIFY rnk <= 10 ORDER BY qid, rnk""")),
    // Promoted from rows-only (r7): centroids are exact integer sums ÷
    // count (one IEEE divide), probe distances a left-fold of identical
    // IEEE ops (list_reduce mirrors Spark's aggregate()), rerank the same
    // quantized cosine as the other embedding oracles.
    Query("ann_incremental", Similarity.annIncremental, bench = 45, doc = 73,
      oracle = Some(Similarity.annIncrementalOracleSql)),
    // C. streaming semantics (batch-checked)
    // The salt is invisible in the result: oracle is the plain unsalted join.
    Query("q_skew_salted", Skew.qSkewSalted, doc = 7, oracle = Some("""
      SELECT c_mktsegment, count(*) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),
    Query("stream_tumbling", Streams.tumbling, oracle = Some("""
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour_s, event_type,
        count(*) AS n, CAST(sum(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),
    Query("stream_enrich", Streams.enrich, oracle = Some("""
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour_s, c_mktsegment,
        count(*) AS n, CAST(sum(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY 1, 2 ORDER BY 1, 2""")),
    // 30-min time_bucket shares the Unix-epoch alignment of Spark's
    // window() (the 2000-01-01 DuckDB origin is a multiple of 30 min from
    // the epoch), so each event's two windows replay as {bucket, bucket−30m}
    Query("stream_sliding", Streams.sliding, doc = 36, oracle = Some("""
      WITH x AS (SELECT event_type, value,
          unnest([b, b - INTERVAL 30 MINUTE]) AS w
        FROM (SELECT event_type, value,
            time_bucket(INTERVAL 30 MINUTE, ts) AS b FROM events))
      SELECT strftime(w, '%Y-%m-%d %H:%M') AS win_s, event_type,
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
      FROM x GROUP BY 1, 2 ORDER BY 1, 2""")),
    Query("sessionize", Streams.sessionize, bench = 8, doc = 13, oracle = Some(sessionizeSql)),
    // The custom-state path must agree with the SAME ground truth as the
    // native session_window path.
    Query("sessionize_stateful", Streams.sessionizeStatefulQuery, oracle = Some(sessionizeSql)),
    // the streaming SCD2 state function in batch mode IS the A22 build
    Query("stream_scd2", Streams.scd2StreamQuery, oracle = Some(Scd.scd2OracleSql)),
    Query("stream_dedup", Streams.streamDedupQuery, doc = 14, oracle = Some("""
      SELECT user_id, event_type, event_id,
        strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
      FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts, event_id) = 1
      ORDER BY user_id, event_type""")),
    // epoch_us on both engines so the µs-truncated Spark timestamps and
    // DuckDB's ns-precision parquet reads agree exactly at the boundary.
    Query("stream_interval_join", Streams.intervalJoinQuery, doc = 19, oracle = Some("""
      SELECT l.event_id AS click_id, r.event_id AS purchase_id, l.user_id,
        strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
      FROM (SELECT event_id, ts, user_id FROM events WHERE event_type = 'click') l
      JOIN (SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase') r
        ON l.user_id = r.user_id
       AND epoch_us(r.ts) >= epoch_us(l.ts)
       AND epoch_us(r.ts) <= epoch_us(l.ts) + 3600000000
      ORDER BY click_id, purchase_id""")),
    // C7/C8/C9/C12 + A13: REAL streaming / JDBC executions under the
    // oracle gate (StreamRun / embedded-Derby roundtrip)
    Query("stream_ingest", Streams.streamIngestQuery, bench = 65, doc = 103,
      // The stream_* driver-oracled queries EXECUTE a streaming query and
      // return its memory sink (a LocalTableScan) — document/guard the
      // batch-mode application of the same transform instead, so the real
      // operator tree (gates, windowed aggs, bloom gate) stays visible.
      plan = Some((ss, dd) => {
        import org.apache.spark.sql.functions._
        Streams.ingestGated(
          Tables.documents(ss, dd)
            .select(col("doc_id"), col("text"),
              Streams.docTs.as("ts")))
          .dropDuplicates("h")
      }),
      oracle = Some(Streams.streamIngestOracleSql)),
    Query("stream_token_sketch", Streams.streamTokenSketchQuery, bench = 66, doc = 104,
      plan = Some((ss, dd) => {
        import org.apache.spark.sql.functions._
        Streams.streamTokenSketch(
          Tables.documents(ss, dd)
            .select(Streams.docTs.as("ts"), col("text")))
      }),
      oracle = Some(Streams.streamTokenSketchOracleSql)),
    Query("stream_topk", Streams.streamTopkQuery, bench = 67, doc = 105,
      plan = Some((ss, dd) =>
        Streams.streamTopEvents(
          Tables.events(ss, dd).select("event_id", "ts", "value"))),
      oracle = Some(Streams.streamTopkOracleSql)),
    // C12's streaming gate + offline exact verify: bloom has no false
    // negatives, so the verified output is D17's relation — same oracle.
    Query("stream_quarantine", Streams.streamQuarantineQuery, bench = 68, doc = 106,
      plan = Some((ss, dd) => {
        import org.apache.spark.sql.functions._
        val all = Tables.documents(ss, dd)
        Streams.quarantineStream(
          all.filter(col("doc_id") % 23 =!= 0)
            .select(col("doc_id"), Streams.docTs.as("ts"), col("text")),
          all.filter(col("doc_id") % 23 === 0).select("doc_id", "text"))
      }),
      oracle = Some("""
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      s AS (SELECT doc_id,
        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS sh FROM d),
      f AS (SELECT * FROM s WHERE len(sh) > 0),
      ev AS (SELECT doc_id AS eval_id, unnest(sh) AS shingle FROM f WHERE doc_id % 23 = 0),
      co AS (SELECT doc_id, unnest(sh) AS shingle FROM f WHERE doc_id % 23 <> 0)
      SELECT doc_id, eval_id, count(*) AS n_hits
      FROM co JOIN ev USING (shingle)
      GROUP BY doc_id, eval_id HAVING count(*) >= 8
      ORDER BY doc_id, eval_id""")),
    Query("jdbc_roundtrip", JdbcBulkLoad.roundtripQuery, bench = 69,
      oracle = Some(JdbcBulkLoad.roundtripOracleSql)),
    // C3 through a checkpoint restart lands on C1's exact relation
    Query("stream_recovery", Streams.streamRecoveryQuery, bench = 70,
      plan = Some((ss, dd) =>
        Streams.tumblingAgg(Tables.events(ss, dd))),
      oracle = Some("""
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour_s, event_type,
        count(*) AS n, CAST(sum(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),
    // D. LLM-training-data operators
    Query("dedup_exact", Dedup.exact, bench = 5, doc = 8, oracle = Some("""
      SELECT doc_id, keeper, doc_id <> keeper AS is_dup FROM (
        SELECT doc_id,
          min(doc_id) OVER (PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS keeper
        FROM documents) t ORDER BY doc_id""")),
    // same answer as dedup_exact — the bucketed layout changes the PLAN
    // (zero shuffle, asserted in BucketingSpec), never the result
    Query("dedup_bucketed", Dedup.exactBucketed, bench = 30, doc = 48, oracle = Some("""
      SELECT doc_id, keeper, doc_id <> keeper AS is_dup FROM (
        SELECT doc_id,
          min(doc_id) OVER (PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS keeper
        FROM documents) t ORDER BY doc_id""")),
    Query("dedup_incremental", Dedup.incremental, oracle = Some(Dedup.incrementalOracleSql)),
    Query("dedup_decremental", Dedup.decremental, bench = 60, doc = 87,
      oracle = Some(Dedup.decrementalOracleSql)),
    // Window hashes are md5 of the 8-token window text in both engines, so
    // the whole substring-dedup pipeline (hash → ≥2-distinct-docs test via
    // min<max → gaps-and-islands merge) replays exactly.
    Query("dedup_spans", (s, d) => Dedup.spans(s, d), bench = 13, doc = 10, oracle = Some("""
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      px AS (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS pos
             FROM d WHERE len(w) >= 8),
      win AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
          md5(array_to_string(w[pos:pos+7], ' ')) AS h FROM px),
      dup AS (SELECT h FROM win GROUP BY h HAVING min(doc_id) < max(doc_id)),
      dw AS (SELECT doc_id, pos FROM win JOIN dup USING (h)),
      isl AS (SELECT doc_id, pos,
          CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                 OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
               THEN 1 ELSE 0 END AS brk FROM dw),
      g AS (SELECT doc_id, pos,
          sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
        FROM isl)
      SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
        max(pos) + 7 - min(pos) + 1 AS span_tokens
      FROM g GROUP BY doc_id, island ORDER BY doc_id, span_start""")),
    Query("dedup_minhash", Dedup.minhash, bench = 6, doc = 9,
      plan = Some((ss, dd) => Dedup.minhashPlan(ss, dd)),
      oracle = Some(minhashOracleSql)),
    Query("dedup_simhash", Dedup.simhash, oracle = Some(simhashOracleSql)),
    Query("ngram_jaccard", Dedup.ngramJaccard, oracle = Some("""
      WITH d AS (SELECT doc_id, lang, n_chars, string_split(lower(text), ' ') AS w FROM documents),
      s AS (SELECT doc_id, lang, n_chars,
        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS sh FROM d),
      f AS (SELECT * FROM s WHERE len(sh) > 0),
      bk AS (SELECT doc_id, lang, unnest([n_chars // 64, n_chars // 64 + 1]) AS bkt FROM f),
      -- replay the Spark-side bucket cap: all pairs when the (lang, band)
      -- bucket holds <= 64 docs, else a star from the bucket's min id
      bsz AS (SELECT lang, bkt, count(*) AS n, min(doc_id) AS mn FROM bk GROUP BY lang, bkt),
      c AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bk x
            JOIN bk y ON x.lang = y.lang AND x.bkt = y.bkt AND x.doc_id < y.doc_id
            JOIN bsz z ON z.lang = x.lang AND z.bkt = x.bkt
            WHERE z.n <= 64 OR x.doc_id = z.mn)
      SELECT a, b,
        CAST(len(list_distinct(list_intersect(sa.sh, sb.sh))) AS BIGINT) AS inter_n,
        CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS BIGINT) AS union_n
      FROM c JOIN f sa ON sa.doc_id = c.a JOIN f sb ON sb.doc_id = c.b
      WHERE 2 * len(list_distinct(list_intersect(sa.sh, sb.sh))) >= len(list_distinct(list_concat(sa.sh, sb.sh)))
      ORDER BY a, b""")),
    Query("containment", Dedup.containment, oracle = Some("""
      WITH d AS (SELECT doc_id, lang, n_chars, string_split(lower(text), ' ') AS w FROM documents),
      s AS (SELECT doc_id, lang, n_chars,
        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS sh FROM d),
      f AS (SELECT * FROM s WHERE len(sh) > 0),
      bk AS (SELECT doc_id, lang, unnest([n_chars // 64, n_chars // 64 + 1]) AS bkt FROM f),
      bsz AS (SELECT lang, bkt, count(*) AS n, min(doc_id) AS mn FROM bk GROUP BY lang, bkt),
      c AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bk x
            JOIN bk y ON x.lang = y.lang AND x.bkt = y.bkt AND x.doc_id < y.doc_id
            JOIN bsz z ON z.lang = x.lang AND z.bkt = x.bkt
            WHERE z.n <= 64 OR x.doc_id = z.mn)
      SELECT a, b,
        CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter_n,
        CAST(least(len(sa.sh), len(sb.sh)) AS BIGINT) AS min_n
      FROM c JOIN f sa ON sa.doc_id = c.a JOIN f sb ON sb.doc_id = c.b
      WHERE 10 * len(list_intersect(sa.sh, sb.sh)) >= 8 * least(len(sa.sh), len(sb.sh))
      ORDER BY a, b""")),
    // Eval slice = doc_id % 23 == 0; a doc is contaminated when it shares
    // >= 8 distinct word 3-shingles with any eval doc.
    Query("decontaminate", (s, d) => Dedup.decontaminate(s, d), bench = 12, oracle = Some("""
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      s AS (SELECT doc_id,
        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS sh FROM d),
      f AS (SELECT * FROM s WHERE len(sh) > 0),
      ev AS (SELECT doc_id AS eval_id, unnest(sh) AS shingle FROM f WHERE doc_id % 23 = 0),
      co AS (SELECT doc_id, unnest(sh) AS shingle FROM f WHERE doc_id % 23 <> 0)
      SELECT doc_id, eval_id, count(*) AS n_hits
      FROM co JOIN ev USING (shingle)
      GROUP BY doc_id, eval_id HAVING count(*) >= 8
      ORDER BY doc_id, eval_id""")),
    // The bloom prefilter is exact-verified, so D17b's oracle IS D17's:
    // identical output by construction (DedupSpec pins the equality too).
    Query("decontaminate_bloom", (s, d) => Dedup.decontaminateBloom(s, d), bench = 40, doc = 68,
      oracle = Some("""
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      s AS (SELECT doc_id,
        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS sh FROM d),
      f AS (SELECT * FROM s WHERE len(sh) > 0),
      ev AS (SELECT doc_id AS eval_id, unnest(sh) AS shingle FROM f WHERE doc_id % 23 = 0),
      co AS (SELECT doc_id, unnest(sh) AS shingle FROM f WHERE doc_id % 23 <> 0)
      SELECT doc_id, eval_id, count(*) AS n_hits
      FROM co JOIN ev USING (shingle)
      GROUP BY doc_id, eval_id HAVING count(*) >= 8
      ORDER BY doc_id, eval_id""")),
    Query("dedup_groups", Clustering.dedupGroups, bench = 11, oracle = Some(s"""$dupGroupsCte
      SELECT doc_id, comp, count(*) OVER (PARTITION BY comp) AS group_n
      FROM comp ORDER BY doc_id""")),
    // Composition: group labels + quality_score, keep the best-scoring
    // doc per group (ties to min doc_id).
    Query("dedup_keep_best", Clustering.keepBest, oracle = Some(s"""$dupGroupsCte,
      g AS (SELECT doc_id, comp, count(*) OVER (PARTITION BY comp) AS group_n FROM comp),
      q AS (SELECT doc_id,
          CAST(len(list_filter(string_split(lower(text), ' '),
            t -> list_contains(['the','a','of','and','to'], t))) AS BIGINT) * 1000
            // CAST(len(string_split(lower(text), ' ')) AS BIGINT)
          + least(500, CAST(len(string_split(lower(text), ' ')) AS BIGINT))
          - CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS score
        FROM documents)
      SELECT comp, doc_id AS best_doc, score, group_n
      FROM g JOIN q USING (doc_id)
      QUALIFY row_number() OVER (PARTITION BY comp ORDER BY score DESC, doc_id) = 1
      ORDER BY comp""")),
    // Fixed-point PageRank: 3 unrolled iterations over the capped banded
    // candidate graph, all-integer (×1e6 ranks, 85/100 damping, // DIV)
    Query("graph_rank", Clustering.graphRank, bench = 22, doc = 40,
      plan = Some((ss, dd) => Clustering.graphRankOn(
        Dedup.bandedCandidates(
          Tables.documents(ss, dd).select("doc_id", "lang", "n_chars")))),
      oracle = Some("""
      WITH bk AS (SELECT doc_id, lang,
          unnest([n_chars // 64, n_chars // 64 + 1]) AS bkt FROM documents),
      bsz AS (SELECT lang, bkt, count(*) AS n, min(doc_id) AS mn FROM bk GROUP BY lang, bkt),
      c AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bk x
            JOIN bk y ON x.lang = y.lang AND x.bkt = y.bkt AND x.doc_id < y.doc_id
            JOIN bsz z ON z.lang = x.lang AND z.bkt = x.bkt
            WHERE z.n <= 64 OR x.doc_id = z.mn),
      e AS (SELECT a AS src, b AS dst FROM c UNION ALL SELECT b AS src, a AS dst FROM c),
      deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
      r0 AS (SELECT src AS v, CAST(1000000 AS BIGINT) AS r FROM deg),
      i1 AS (SELECT e.dst AS v, sum(r.r // d.deg) AS s
             FROM e JOIN r0 r ON e.src = r.v JOIN deg d ON d.src = e.src GROUP BY e.dst),
      r1 AS (SELECT d.src AS v, CAST(150000 + 85 * coalesce(i.s, 0) // 100 AS BIGINT) AS r
             FROM deg d LEFT JOIN i1 i ON i.v = d.src),
      i2 AS (SELECT e.dst AS v, sum(r.r // d.deg) AS s
             FROM e JOIN r1 r ON e.src = r.v JOIN deg d ON d.src = e.src GROUP BY e.dst),
      r2 AS (SELECT d.src AS v, CAST(150000 + 85 * coalesce(i.s, 0) // 100 AS BIGINT) AS r
             FROM deg d LEFT JOIN i2 i ON i.v = d.src),
      i3 AS (SELECT e.dst AS v, sum(r.r // d.deg) AS s
             FROM e JOIN r2 r ON e.src = r.v JOIN deg d ON d.src = e.src GROUP BY e.dst),
      r3 AS (SELECT d.src AS v, CAST(150000 + 85 * coalesce(i.s, 0) // 100 AS BIGINT) AS r
             FROM deg d LEFT JOIN i3 i ON i.v = d.src)
      SELECT d.src AS doc_id, d.deg, r3.r AS rank_x1e6
      FROM deg d JOIN r3 ON r3.v = d.src ORDER BY doc_id""")),
    Query("dedup_embedding", Similarity.dedupEmbedding, oracle = Some("""
      WITH q AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        FROM embeddings),
      n AS (SELECT vec_id, qv,
          CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nq FROM q),
      p AS (SELECT a.vec_id AS i, b.vec_id AS j,
          CAST(list_sum(list_transform(list_zip(a.qv, b.qv), t -> t[1] * t[2])) AS BIGINT) AS dot,
          a.nq AS na, b.nq AS nb
        FROM n a JOIN n b ON a.vec_id < b.vec_id)
      SELECT i, j, round(dot / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6) AS cos_r
      FROM p WHERE dot / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) > 0.45
      ORDER BY i, j""")),
    // Every table's bucket assignment is replayed from the deterministic
    // hyperplanes (bucketSql per table seed), so candidate generation AND
    // verification are both SQL-checked — the full 100 TB dedup path
    // under the hash gate.
    Query("dedup_embedding_lsh", Similarity.dedupEmbeddingLsh, bench = 10, doc = 20,
      oracle = Some(s"""$lshCte,
      bk AS (${(0 until graft.ops.Similarity.NumTables).map { t =>
        val expr = bucketSql(graft.ops.Similarity.planes(seed = graft.ops.Similarity.tableSeed(t)))
        s"SELECT vec_id, $t AS t, CAST($expr AS BIGINT) AS bkt FROM n"
      }.mkString("\n        UNION ALL ")}),
      c AS (SELECT DISTINCT x.vec_id AS i, y.vec_id AS j
        FROM bk x JOIN bk y ON x.t = y.t AND x.bkt = y.bkt AND x.vec_id < y.vec_id),
      p AS (SELECT i, j,
          CAST(list_sum(list_transform(list_zip(a.qv, c2.qv), t -> t[1] * t[2])) AS BIGINT) AS dot,
          a.nq AS na, c2.nq AS nb
        FROM c JOIN n a ON a.vec_id = c.i JOIN n c2 ON c2.vec_id = c.j)
      SELECT i, j, round(dot / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6) AS cos_r
      FROM p WHERE dot / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) > 0.45
      ORDER BY i, j""")),
    // D20 SemDeDup: the label clustering, per-table hyperplane buckets,
    // quantized-cosine verify and keep-lowest-id rule all replay exactly.
    Query("semdedup", (s, d) => Similarity.semDedup(s, d), bench = 14, doc = 22, oracle = Some(s"""
      WITH q0 AS (SELECT vec_id, label,
          list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        FROM embeddings),
      n AS (SELECT vec_id, label, qv,
          CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nq FROM q0),
      bk AS (${(0 until graft.ops.Similarity.NumTables).map { t =>
        val expr = bucketSql(graft.ops.Similarity.planes(seed = graft.ops.Similarity.tableSeed(t)))
        s"SELECT vec_id, label, $t AS t, CAST($expr AS BIGINT) AS bkt FROM n"
      }.mkString("\n        UNION ALL ")}),
      c AS (SELECT DISTINCT x.label, x.vec_id AS i, y.vec_id AS j
        FROM bk x JOIN bk y ON x.label = y.label AND x.t = y.t AND x.bkt = y.bkt
          AND x.vec_id < y.vec_id),
      p AS (SELECT c.label, i, j,
          CAST(list_sum(list_transform(list_zip(a.qv, c2.qv), t -> t[1] * t[2])) AS BIGINT) AS dot,
          a.nq AS na, c2.nq AS nb
        FROM c JOIN n a ON a.vec_id = c.i JOIN n c2 ON c2.vec_id = c.j),
      f AS (SELECT label, i, j,
          round(dot / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6) AS cos_r
        FROM p WHERE dot / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) > 0.45)
      SELECT j AS vec_id, CAST(label AS BIGINT) AS label, min(i) AS kept_by,
        max(cos_r) AS max_cos_r
      FROM f GROUP BY label, j ORDER BY vec_id""")),
    Query("ann_bruteforce", Similarity.annBruteforce, bench = 7, oracle = Some("""
      WITH q AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        FROM embeddings),
      n AS (SELECT vec_id, qv,
          CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nq FROM q),
      p AS (SELECT a.vec_id AS qid, b.vec_id AS vec_id,
          CAST(list_sum(list_transform(list_zip(a.qv, b.qv), t -> t[1] * t[2])) AS BIGINT)
            / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))) AS cos
        FROM n a JOIN n b ON a.vec_id < 5 AND b.vec_id <> a.vec_id)
      SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk,
        vec_id, round(cos, 6) AS cos_r
      FROM p QUALIFY rnk <= 10 ORDER BY qid, rnk""")),
    // Promoted from rows-only (r5): multi-probe buckets replayed via xor.
    Query("ann_lsh", Similarity.annLsh, doc = 11, oracle = Some(s"""$lshCte,
      pr AS (SELECT vec_id AS qid, qv AS qq, nq AS nqq, CAST(xor(bucket, m) AS BIGINT) AS bucket
        FROM b CROSS JOIN (VALUES (0),(1),(2),(4),(8),(16),(32)) t(m) WHERE vec_id < 5),
      pj AS (SELECT pr.qid, b.vec_id,
          CAST(list_sum(list_transform(list_zip(pr.qq, b.qv), t -> t[1] * t[2])) AS BIGINT)
            / (sqrt(CAST(pr.nqq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))) AS cos
        FROM pr JOIN b ON pr.bucket = b.bucket AND b.vec_id <> pr.qid)
      SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk,
        vec_id, round(cos, 6) AS cos_r
      FROM pj QUALIFY rnk <= 10 ORDER BY qid, rnk""")),
    Query("bm25_search", (s, d) => Search.bm25(s, d), bench = 18, doc = 26,
      oracle = Some(Search.oracleSql)),
    Query("inverted_index", Search.invertedIndex, doc = 27, oracle = Some(Search.indexOracleSql)),
    Query("embed_quantize", Similarity.embedQuantize, doc = 32,
      oracle = Some(Similarity.quantizeOracleSql)),
    // token FNV-1a replayed in HUGEINT exactly as in simhashOracleSql
    // (ASCII-guarded by tools/check.py); weights are the same Knuth
    // multiplicative hash of the bucket index the kernel uses.
    Query("classifier_score", TextAnalysis.classifierScore, doc = 31, oracle = Some("""
      WITH tok AS (
        SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) AS t
        FROM documents),
      fn AS (
        SELECT doc_id,
          list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              [CAST(ord(t[i]) AS HUGEINT) for i in range(1, len(t)+1)]),
            (h, c) -> ((h - h % 128 + CAST(xor(CAST(h % 128 AS BIGINT), CAST(c AS BIGINT)) AS HUGEINT))
                       * 1099511628211) % 18446744073709551616::HUGEINT
          ) AS hu
        FROM tok),
      lg AS (
        SELECT doc_id,
          CAST(sum(CAST(hu % 64 AS BIGINT) * 2654435761 % 4294967296 % 17 - 8) AS BIGINT) AS logit
        FROM fn GROUP BY doc_id)
      SELECT d.doc_id, COALESCE(logit, 0) AS logit, COALESCE(logit, 0) > 0 AS keep
      FROM documents d LEFT JOIN lg ON lg.doc_id = d.doc_id
      ORDER BY d.doc_id""")),
    Query("corpus_drift", TextAnalysis.corpusDrift, bench = 37, doc = 65,
      oracle = Some(TextAnalysis.corpusDriftOracleSql)),
    Query("lang_id", TextAnalysis.langId, oracle = Some("""
      WITH wd AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      h AS (SELECT doc_id,
        CAST(len(list_filter(w, t -> list_contains(['the','a','of','and','to'], t))) AS BIGINT) AS hits_en,
        CAST(len(list_filter(w, t -> list_contains(['el','la','de','y','en'], t))) AS BIGINT) AS hits_es,
        CAST(len(list_filter(w, t -> list_contains(['der','die','und','das','ein'], t))) AS BIGINT) AS hits_de,
        CAST(len(list_filter(w, t -> list_contains(['le','la','et','les','un'], t))) AS BIGINT) AS hits_fr
      FROM wd)
      SELECT doc_id, hits_en, hits_es, hits_de, hits_fr,
        CASE WHEN hits_en + hits_es + hits_de + hits_fr = 0 THEN 'und'
             WHEN hits_en >= hits_es AND hits_en >= hits_de AND hits_en >= hits_fr THEN 'en'
             WHEN hits_es >= hits_de AND hits_es >= hits_fr THEN 'es'
             WHEN hits_de >= hits_fr THEN 'de' ELSE 'fr' END AS pred
      FROM h ORDER BY doc_id""")),
    Query("quality_score", TextAnalysis.qualityScore, oracle = Some("""
      WITH x AS (SELECT doc_id,
        CAST(length(text) AS BIGINT) AS n_chars_m,
        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
        CAST(len(list_filter(string_split(lower(text), ' '),
          t -> list_contains(['the','a','of','and','to'], t))) AS BIGINT) AS n_stop,
        CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit
      FROM documents)
      SELECT doc_id, n_chars_m, n_tok, n_stop, n_digit,
        n_stop * 1000 // n_tok AS stop_ratio_x1000,
        n_chars_m * 100 // n_tok AS avg_tok_len_x100,
        n_stop * 1000 // n_tok + least(500, n_tok) - n_digit AS score
      FROM x ORDER BY doc_id""")),
    Query("token_count", TextAnalysis.tokenCount, bench = 9, oracle = Some("""
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens,
        CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars_no_ws
      FROM documents ORDER BY doc_id""")),
    // Winnowing fingerprint re-expressed in SQL: each 8-char window's base-257
    // polynomial fits in HUGEINT without wrap for ASCII (max ~9.45e18 < 2^64),
    // so no modular arithmetic is needed; signed-long ordering (the kernel's
    // TreeSet[java.lang.Long]) is emulated by shifting values >= 2^63 down.
    Query("fingerprint", TextAnalysis.fingerprint, oracle = Some("""
      WITH h AS (
        SELECT doc_id,
          list_distinct([
            list_reduce(list_prepend(0::HUGEINT, [ord(text[j])::HUGEINT for j in range(i, i+8)]),
                        (acc, c) -> acc*257 + c)
            for i in range(1, len(text)-6)
          ]) AS hs
        FROM documents),
      s AS (
        SELECT doc_id,
          list_sort([CASE WHEN v >= 9223372036854775808::HUGEINT
                          THEN v - 18446744073709551616::HUGEINT ELSE v END
                     for v in hs]) AS ss
        FROM h)
      SELECT doc_id,
        list_aggregate([lpad(lower(to_hex(CAST(CASE WHEN v < 0
            THEN v + 18446744073709551616::HUGEINT ELSE v END AS UBIGINT))), 16, '0')
          for v in list_slice(ss, 1, 4)], 'string_agg', ':') AS fp
      FROM s ORDER BY doc_id""")),
    Query("pii_redact", TextAnalysis.piiRedact, oracle = Some("""
      WITH p AS (
        SELECT doc_id,
          CASE WHEN doc_id % 3 = 0
               THEN text || ' contact u' || doc_id || '@example.org or 10.0.' ||
                    (doc_id % 256) || '.1 tel 555-123-4567'
               ELSE text END AS t
        FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        CAST(len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
        regexp_replace(regexp_replace(regexp_replace(t,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
          '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g') AS redacted
      FROM p ORDER BY doc_id""")),
    // Gopher-style repeated-n-gram fractions as exact x1000 integer ratios.
    Query("repetition_score", TextAnalysis.repetitionScore, oracle = Some("""
      WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      g AS (SELECT doc_id,
        CASE WHEN len(w) >= 2 THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))] ELSE [] END AS g2,
        CASE WHEN len(w) >= 3 THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)] ELSE [] END AS g3,
        CASE WHEN len(w) >= 4 THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] for i in range(1, len(w) - 2)] ELSE [] END AS g4
      FROM w)
      SELECT doc_id,
        CASE WHEN len(g2) > 0 THEN (len(g2) - len(list_distinct(g2))) * 1000 // len(g2) ELSE 0 END AS dup2_x1000,
        CASE WHEN len(g3) > 0 THEN (len(g3) - len(list_distinct(g3))) * 1000 // len(g3) ELSE 0 END AS dup3_x1000,
        CASE WHEN len(g4) > 0 THEN (len(g4) - len(list_distinct(g4))) * 1000 // len(g4) ELSE 0 END AS dup4_x1000
      FROM g ORDER BY doc_id""")),
    Query("gopher_filter", TextAnalysis.gopherFilter, bench = 15, doc = 23, oracle = Some("""
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w,
          CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars_no_ws FROM documents),
      m AS (SELECT doc_id,
          CAST(len(w) AS BIGINT) AS n_tok,
          chars_no_ws,
          CAST(len(list_filter(w, t -> t IN ('the','a','of','and','to'))) AS BIGINT) AS n_stop,
          CAST(len(list_filter(w, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS n_alpha
        FROM d),
      r AS (SELECT doc_id, n_tok, chars_no_ws,
          chars_no_ws * 100 // n_tok AS mean_len_x100,
          n_stop, n_alpha * 1000 // n_tok AS alpha_x1000
        FROM m)
      SELECT doc_id, n_tok, mean_len_x100, n_stop, alpha_x1000,
        (n_tok BETWEEN 50 AND 100000) AS r_word_count,
        (mean_len_x100 BETWEEN 300 AND 1000) AS r_mean_len,
        (n_stop >= 2) AS r_stopword,
        (alpha_x1000 >= 800) AS r_alpha,
        ((n_tok BETWEEN 50 AND 100000) AND (mean_len_x100 BETWEEN 300 AND 1000)
          AND n_stop >= 2 AND alpha_x1000 >= 800) AS keep
      FROM r ORDER BY doc_id""")),
    Query("unigram_surprisal", TextAnalysis.unigramSurprisal, bench = 16, doc = 24, oracle = Some("""
      WITH tok AS (SELECT doc_id,
          unnest(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) AS tok
        FROM documents),
      vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY tok),
      tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM vocab),
      bits AS (SELECT doc_id,
          CAST((len(bin(n_total)) - 1) - (len(bin(cnt)) - 1) AS BIGINT) AS b
        FROM tok JOIN vocab USING (tok), tot)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        CAST(sum(b) AS BIGINT) AS total_bits,
        CAST(sum(b) * 1000 // count(*) AS BIGINT) AS bits_per_tok_x1000
      FROM bits GROUP BY doc_id ORDER BY doc_id""")),
    Query("bigram_surprisal", TextAnalysis.bigramSurprisal, doc = 25, oracle = Some("""
      WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      pp AS (SELECT doc_id, pr['w1'] AS w1, pr['p'] AS p
        FROM (SELECT doc_id,
            unnest([{'w1': ws[i], 'p': ws[i] || ' ' || ws[i+1]} for i in range(1, len(ws))]) AS pr
          FROM w WHERE len(ws) >= 2)),
      pc AS (SELECT w1, p, CAST(count(*) AS BIGINT) AS cp FROM pp GROUP BY w1, p),
      wc AS (SELECT w1, CAST(sum(cp) AS BIGINT) AS cw FROM pc GROUP BY w1),
      bits AS (SELECT doc_id,
          CAST((len(bin(cw)) - 1) - (len(bin(cp)) - 1) AS BIGINT) AS b
        FROM pp JOIN pc USING (w1, p) JOIN wc USING (w1))
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(b) AS BIGINT) AS total_bits,
        CAST(sum(b) * 1000 // count(*) AS BIGINT) AS bits_per_pair_x1000
      FROM bits GROUP BY doc_id ORDER BY doc_id""")),
    // fnv64 & 1023 == unsigned FNV % 1024 (power of two); the HUGEINT
    // fold is the simhash/classifier per-token replay applied to bigrams
    Query("dsir_weights", TextAnalysis.dsirWeights, bench = 19, doc = 34, oracle = Some("""
      WITH w AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS ws FROM documents),
      pp AS (SELECT doc_id, lang,
          unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS p
        FROM w WHERE len(ws) >= 2),
      occ AS (SELECT doc_id, lang,
          CAST(list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              [CAST(ord(p[i]) AS HUGEINT) for i in range(1, len(p)+1)]),
            (h, c) -> ((h - h % 128 + CAST(xor(CAST(h % 128 AS BIGINT), CAST(c AS BIGINT)) AS HUGEINT))
                       * 1099511628211) % 18446744073709551616::HUGEINT
          ) % 1024 AS BIGINT) AS b
        FROM pp),
      dist AS (SELECT b, CAST(count(*) AS BIGINT) AS cr,
          CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS ct
        FROM occ GROUP BY b),
      tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt FROM dist),
      bits AS (SELECT doc_id, lang,
          CAST(((len(bin(ct + 1)) - 1) - (len(bin(nt + 1024)) - 1))
             - ((len(bin(cr + 1)) - 1) - (len(bin(nr + 1024)) - 1)) AS BIGINT) AS bts
        FROM occ JOIN dist USING (b), tot)
      SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(bts) AS BIGINT) AS score_bits,
        (sum(bts) > 0) AS selected
      FROM bits GROUP BY doc_id, lang ORDER BY doc_id""")),
    // 32-token chunks on a 24-token stride; chunk_hash = signed FNV-1a of
    // the space-joined chunk (HUGEINT fold + the simhash signed conversion)
    Query("doc_chunk", TextAnalysis.docChunk, doc = 37, oracle = Some("""
      WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      n AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n_tok,
          CASE WHEN len(ws) <= 32 THEN 1
               ELSE (CAST(len(ws) AS BIGINT) - 32 + 23) // 24 + 1 END AS n_chunks
        FROM w),
      c AS (SELECT doc_id, ws, n_tok, unnest(range(0, n_chunks)) AS chunk_id FROM n),
      x AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
          CAST(chunk_id * 24 AS BIGINT) AS start_tok,
          CAST(least(32, n_tok - chunk_id * 24) AS BIGINT) AS len_tok,
          array_to_string(ws[chunk_id * 24 + 1 : chunk_id * 24 + least(32, n_tok - chunk_id * 24)], ' ') AS t
        FROM c),
      h AS (SELECT doc_id, chunk_id, start_tok, len_tok,
          list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              [CAST(ord(t[i]) AS HUGEINT) for i in range(1, len(t)+1)]),
            (h, c) -> ((h - h % 128 + CAST(xor(CAST(h % 128 AS BIGINT), CAST(c AS BIGINT)) AS HUGEINT))
                       * 1099511628211) % 18446744073709551616::HUGEINT
          ) AS hu
        FROM x)
      SELECT doc_id, chunk_id, start_tok, len_tok,
        CAST(hu - (CASE WHEN hu >= 9223372036854775808::HUGEINT
                   THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END) AS BIGINT) AS chunk_hash
      FROM h ORDER BY doc_id, chunk_id""")),
    Query("ngram_lm", TextAnalysis.ngramLm, bench = 25, doc = 44,
      oracle = Some(TextAnalysis.ngramLmOracleSql)),
    Query("multimodal_meta", Multimodal.metaQuery, oracle = Some("""
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        CAST(64 + octet_length(encode(text)) % 512 AS BIGINT) AS width,
        CAST(64 + (octet_length(encode(text)) * 7) % 512 AS BIGINT) AS height,
        CAST(1 + octet_length(encode(text)) % 24 AS BIGINT) AS n_frames,
        md5(text) AS payload_md5
      FROM documents ORDER BY doc_id""")),
    // The fake decode is byte arithmetic (all-ASCII corpus: ord == byte),
    // so the mapPartitions decode path is fully oracle-checkable.
    Query("multimodal_features", Multimodal.featuresQuery, oracle = Some("""
      WITH m AS (
        SELECT doc_id,
          CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
          octet_length(encode(text)) AS nb,
          64 + octet_length(encode(text)) % 512 AS w,
          64 + (octet_length(encode(text)) * 7) % 512 AS h,
          1 + octet_length(encode(text)) % 24 AS nf,
          list_reduce(list_prepend(0, [ord(text[i]) for i in range(1, len(text)+1)]),
                      (acc, x) -> acc + x) AS bytesum
        FROM documents)
      SELECT doc_id, media_type, CAST(nb AS BIGINT) AS n_bytes,
        CAST(CASE WHEN nb = 0 THEN 0 ELSE bytesum * 100 // nb END AS BIGINT) AS mean_byte_x100,
        CAST(least(nf, 4) AS BIGINT) AS frames_sampled,
        CAST(CASE WHEN greatest(w, h) <= 256 THEN w ELSE w * 256 // greatest(w, h) END AS BIGINT) AS out_w,
        CAST(CASE WHEN greatest(w, h) <= 256 THEN h ELSE h * 256 // greatest(w, h) END AS BIGINT) AS out_h
      FROM m ORDER BY doc_id""")),
    Query("multimodal_frames", Multimodal.framesQuery, oracle = Some("""
      WITH v AS (
        SELECT doc_id, text, 1 + octet_length(encode(text)) % 24 AS nf
        FROM documents WHERE doc_id % 3 = 2),
      f AS (
        SELECT doc_id, text,
          unnest(list_distinct([CAST(j * (nf - 1) // 3 AS BIGINT) for j in range(0, 4)])) AS frame_idx
        FROM v)
      SELECT doc_id, frame_idx, md5(text || ':' || frame_idx) AS frame_md5
      FROM f ORDER BY doc_id, frame_idx""")),
    // E. composite curation pipeline
    Query("curate_corpus", Curate.query, oracle = Some(Curate.oracleSql)),
    // E22: the same relation, computed as an incremental CDC consumer
    // incremental ≡ full recompute: E22 rides E1's exact oracle
    Query("curate_cdc", Curate.curateCdc, bench = 77, doc = 107,
      plan = Some((ss, dd) => {
        import org.apache.spark.sql.functions._
        // one release's un-checkpointed work unit against a non-empty state
        val seen = Tables.documents(ss, dd).select(md5(col("text")).as("h")).limit(1)
        Curate.cdcStep(Tables.documents(ss, dd), Some(seen))._2
      }),
      oracle = Some(Curate.oracleSql)),
    Query("sample_stratified", Curate.sampleStratified, oracle = Some(Curate.sampleOracleSql)),
    Query("sample_weighted", Curate.sampleWeighted, doc = 61,
      oracle = Some(Curate.sampleWeightedOracleSql)),
    Query("vocab_topk", Curate.vocabTopk, doc = 16, oracle = Some(Curate.vocabOracleSql)),
    Query("pack_sequences", Curate.packSequences, doc = 17, oracle = Some(Curate.packOracleSql)),
    Query("curate_pipeline", Curate.pipeline, bench = 17, doc = 49,
      plan = Some((ss, dd) =>
        Curate.pipelineStaged(ss, dd, stage = false)),
      oracle = Some(Curate.pipelineOracleSql)),
    Query("domain_mix", Curate.domainMix, doc = 28, oracle = Some(Curate.domainMixOracleSql)),
    Query("shard_assign", Curate.shardAssign, doc = 35, oracle = Some(Curate.shardAssignOracleSql)),
    Query("source_reputation", Curate.sourceReputation, bench = 20, doc = 38,
      oracle = Some(Curate.sourceReputationOracleSql)),
    Query("heavy_hitters", Curate.heavyHitters, bench = 21, doc = 39,
      oracle = Some(Curate.heavyHittersOracleSql)),
    // each vote is the corresponding component oracle's keep logic inlined
    Query("quality_vote", Curate.qualityVote, bench = 24, doc = 43, oracle = Some("""
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w,
          CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars_no_ws FROM documents),
      gm AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok, chars_no_ws,
          CAST(len(list_filter(w, t -> t IN ('the','a','of','and','to'))) AS BIGINT) AS n_stop,
          CAST(len(list_filter(w, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS n_alpha
        FROM d),
      gv AS (SELECT doc_id, ((n_tok BETWEEN 50 AND 100000)
          AND (chars_no_ws * 100 // n_tok BETWEEN 300 AND 1000)
          AND n_stop >= 2 AND n_alpha * 1000 // n_tok >= 800) AS v_gopher FROM gm),
      g3 AS (SELECT doc_id, CASE WHEN len(w) >= 3
          THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
          ELSE [] END AS g3 FROM d),
      rv AS (SELECT doc_id, (CASE WHEN len(g3) > 0
          THEN (len(g3) - len(list_distinct(g3))) * 1000 // len(g3) ELSE 0 END) <= 300 AS v_rep
        FROM g3),
      tok AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) AS t
        FROM documents),
      fn AS (SELECT doc_id,
          list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              [CAST(ord(t[i]) AS HUGEINT) for i in range(1, len(t)+1)]),
            (h, c) -> ((h - h % 128 + CAST(xor(CAST(h % 128 AS BIGINT), CAST(c AS BIGINT)) AS HUGEINT))
                       * 1099511628211) % 18446744073709551616::HUGEINT
          ) AS hu
        FROM tok),
      cv AS (SELECT d2.doc_id, COALESCE(l.logit, 0) > 0 AS v_clf FROM documents d2
        LEFT JOIN (SELECT doc_id,
            CAST(sum(CAST(hu % 64 AS BIGINT) * 2654435761 % 4294967296 % 17 - 8) AS BIGINT) AS logit
          FROM fn GROUP BY doc_id) l ON l.doc_id = d2.doc_id),
      vocab AS (SELECT t AS tok2, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY t),
      tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM vocab),
      sb AS (SELECT doc_id, CAST(sum(b) * 1000 // count(*) AS BIGINT) AS bpt FROM
          (SELECT doc_id,
            CAST((len(bin(n_total)) - 1) - (len(bin(cnt)) - 1) AS BIGINT) AS b
          FROM tok JOIN vocab ON tok.t = vocab.tok2, tot) x GROUP BY doc_id),
      sv AS (SELECT d3.doc_id, COALESCE(bpt BETWEEN 1000 AND 8000, false) AS v_surp
        FROM documents d3 LEFT JOIN sb ON sb.doc_id = d3.doc_id),
      v AS (SELECT doc_id, v_gopher, v_rep, v_clf, v_surp,
          CAST(CAST(v_gopher AS INT) + CAST(v_rep AS INT)
            + CAST(v_clf AS INT) + CAST(v_surp AS INT) AS BIGINT) AS votes
        FROM gv JOIN rv USING (doc_id) JOIN cv USING (doc_id) JOIN sv USING (doc_id))
      SELECT doc_id, v_gopher, v_rep, v_clf, v_surp, votes, votes >= 3 AS keep
      FROM v ORDER BY doc_id""")),
    Query("curation_funnel", Curate.curationFunnel, bench = 28, doc = 46,
      oracle = Some(Curate.curationFunnelOracleSql)),
    Query("curriculum_order", Curate.curriculumOrder, bench = 32, doc = 55,
      oracle = Some(Curate.curriculumOrderOracleSql)),
    Query("shard_manifest", Curate.shardManifest, doc = 56,
      oracle = Some(Curate.shardManifestOracleSql)),
    Query("sample_group_k", (s, d) => Curate.sampleGroupK(s, d), bench = 44, doc = 72,
      oracle = Some(Curate.sampleGroupKOracleSql)),
    Query("split_leakproof", Curate.splitLeakproof, bench = 56, doc = 83,
      oracle = Some(Curate.splitLeakproofOracleSql)),
    Query("bpe_train", Tokenize.bpeTrain, bench = 31, doc = 53,
      oracle = Some(Tokenize.bpeTrainOracleSql)),
    Query("bpe_encode", Tokenize.bpeEncode, doc = 54, oracle = Some(Tokenize.bpeEncodeOracleSql)),
    Query("bpe_segment", Tokenize.bpeSegment, doc = 58, oracle = Some(Tokenize.bpeSegmentOracleSql)),
    // day-granularity only (dates are timezone-free on both engines; the
    // session runs UTC), zero-filled counts, LOCF via IGNORE NULLS window.
    Query("q_gapfill", Relational.qGapfill, doc = 29, oracle = Some("""
      WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, value FROM events),
      daily AS (
        SELECT user_id, day, CAST(count(*) AS BIGINT) AS n_events, max(value) AS peak
        FROM ev GROUP BY user_id, day),
      span AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
      days AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM span),
      grid AS (SELECT user_id, day FROM (SELECT DISTINCT user_id FROM ev) u, days)
      SELECT user_id, strftime(g.day, '%Y-%m-%d') AS day,
        coalesce(n_events, 0) AS n_events, peak,
        last_value(peak IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY g.day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak_locf
      FROM grid g LEFT JOIN daily USING (user_id, day)
      ORDER BY user_id, day""")),
    Query("q_outliers", Relational.qOutliers, doc = 30, oracle = Some(Relational.outliersOracleSql)),
    Query("q_moving", Relational.qMoving, doc = 33, oracle = Some(Relational.movingOracleSql)),
    Query("q_funnel", Relational.qFunnel, bench = 23, doc = 41,
      oracle = Some(Relational.funnelOracleSql)),
    Query("q_cohort", Relational.qCohort, bench = 26, doc = 45,
      oracle = Some(Relational.cohortOracleSql)),
    Query("q_histogram", Relational.qHistogram, oracle = Some(Relational.histogramOracleSql)),
    Query("q_topk_group", Relational.qTopkGroup, bench = 33, doc = 57,
      oracle = Some(Relational.topkGroupOracleSql)),
    Query("q_volume", Relational.qVolume, bench = 34, doc = 59,
      oracle = Some(Relational.volumeOracleSql)),
    Query("q_marketshare", Relational.qMarketshare, bench = 35, doc = 60,
      oracle = Some(Relational.marketshareOracleSql)),
    Query("q_bigorders", Relational.qBigorders, bench = 41, doc = 69,
      oracle = Some(Relational.bigordersOracleSql)),
    Query("q_disjunct", Relational.qDisjunct, bench = 42, doc = 70,
      oracle = Some(Relational.disjunctOracleSql)),
    Query("q_idle", Relational.qIdle, bench = 43, doc = 71, oracle = Some(Relational.idleOracleSql)),
    Query("q_zorder", relational.ZOrder.query, bench = 39,
      oracle = Some(relational.ZOrder.oracleSql)),
    Query("q_rolling_distinct", Relational.qRollingDistinct, bench = 46, doc = 74,
      oracle = Some(Relational.rollingDistinctOracleSql)),
    Query("q_kmv_setops", Relational.qKmvSetops, bench = 48, doc = 76,
      oracle = Some(Relational.kmvSetopsOracleSql)),
    Query("stream_rolling_distinct", Streams.rollingDistinct, bench = 49, doc = 77,
      oracle = Some(Streams.rollingDistinctOracleSql)),
    Query("stream_dq", Streams.dq, doc = 82, oracle = Some(Streams.dqOracleSql)),
    // C15 batch mode runs B13's exact relation — same oracle
    Query("asof_stateful", Streams.asofStatefulQuery, bench = 57, doc = 84, oracle = Some(asofSql)),
    Query("q_fk_elim", Relational.qFkElim, doc = 78, oracle = Some(Relational.fkElimOracleSql)),
    Query("q_fk_elim_left", Relational.qFkElimLeft, doc = 79,
      oracle = Some(Relational.fkElimLeftOracleSql)),
    Query("q_top_supplier", Relational.qTopSupplier, doc = 80,
      oracle = Some(Relational.topSupplierOracleSql)),
    Query("q_promo", Relational.qPromo, doc = 81, oracle = Some(Relational.promoOracleSql)),
    Query("q_forecast", relational.TpchGaps.qForecast, doc = 88,
      oracle = Some(relational.TpchGaps.forecastOracleSql)),
    Query("q_priority", relational.TpchGaps.qPriority, doc = 89,
      oracle = Some(relational.TpchGaps.priorityOracleSql)),
    Query("q_returns", relational.TpchGaps.qReturns, bench = 50, doc = 90,
      oracle = Some(relational.TpchGaps.returnsOracleSql)),
    Query("q_profit", relational.TpchGaps.qProfit, bench = 51, doc = 91,
      oracle = Some(relational.TpchGaps.profitOracleSql)),
    Query("q_important", relational.TpchGaps.qImportant(_, _), doc = 92,
      plan = Some((ss, dd) =>
        relational.TpchGaps.qImportant(ss, dd, stage = false)),
      oracle = Some(relational.TpchGaps.importantOracleSql)),
    Query("q_shipmode", relational.TpchGaps.qShipmode, doc = 93,
      oracle = Some(relational.TpchGaps.shipmodeOracleSql)),
    Query("q_suppcnt", relational.TpchGaps.qSuppcnt, bench = 52, doc = 94,
      oracle = Some(relational.TpchGaps.suppcntOracleSql)),
    Query("q_smallqty", relational.TpchGaps.qSmallqty, bench = 53, doc = 95,
      oracle = Some(relational.TpchGaps.smallqtyOracleSql)),
    Query("q_excess", relational.TpchGaps.qExcess(_, _), bench = 54, doc = 96,
      plan = Some((ss, dd) =>
        relational.TpchGaps.qExcess(ss, dd, stage = false)),
      oracle = Some(relational.TpchGaps.excessOracleSql)),
  )
}
