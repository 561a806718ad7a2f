package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the driver contract: every oracle key is backed by a query,
  * every Bench headline exists, the flagship entry returns rows, and
  * result schemas obey the comparison normalization rules (no raw
  * int/float/timestamp columns reaching the oracle compare). Also guards
  * the one query registry every name list derives from, and the
  * inventory of dev mains.
  */
class ContractSpec extends AnyFunSuite {

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every query carries an oracle, except the documented rows-only sketch") {
    // the driver records a weaker rows-only check for oracle-less queries;
    // the ONLY surface allowed to ride that is the HLL sketch (its oracled
    // counterpart is q_kmv_distinct) — a new query landing here is a bug
    val rowsOnly = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    assert(rowsOnly == Set("q_approx_distinct"), s"un-oracled queries: $rowsOnly")
  }

  test("every Bench headline name is a registered query") {
    val missing = Bench.headline.toSet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"headline without query: $missing")
  }

  test("registry names are unique; bench and doc positions rank 1..n without ties") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct == names, s"duplicate registry names: ${names.diff(names.distinct)}")
    assert(Bench.headline.distinct == Bench.headline, s"duplicate headline: ${Bench.headline}")
    for ((field, pos) <- Seq[(String, SparkEntry.Query => Int)](("bench", _.bench), ("doc", _.doc))) {
      val ranks = SparkEntry.registry.map(pos).filter(_ > 0).sorted
      assert(ranks == (1 to ranks.size), s"$field positions are not 1..${ranks.size}: $ranks")
    }
  }

  test("every PlanDoc name and every plan-only builder resolves through the registry") {
    val names = SparkEntry.registry.map(_.name).toSet
    val unresolved = PlanDoc.names.filterNot(n =>
      PlanOnly.builders.contains(n) || SparkEntry.queries.contains(n))
    assert(unresolved.isEmpty, s"PlanDoc names without a builder: $unresolved")
    assert(PlanOnly.builders.keySet.subsetOf(names),
      s"plan builders outside the registry: ${PlanOnly.builders.keySet.diff(names)}")
    // a plan-only record is never run by the driver: no oracle, no bench slot
    val misflagged = SparkEntry.registry.filter(q => q.planOnly && (q.oracle.nonEmpty || q.bench > 0))
    assert(misflagged.isEmpty, s"plan-only records with an oracle or bench slot: ${misflagged.map(_.name)}")
  }

  test("the dev mains under src/main/scala are exactly the ones README documents") {
    // a main nothing documents is a tool nothing runs — it rots (and keeps
    // dead options alive) until someone deletes it
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val objectDecl = "\\bobject\\s+(\\w+)".r
    val walk = Files.walk(Paths.get("src/main/scala"))
    val mains = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      "def main\\(".r.findAllMatchIn(src).map { m =>
        objectDecl.findAllMatchIn(src.substring(0, m.start)).toSeq.last.group(1)
      }
    }.toSet finally walk.close()
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
    val documented = "runMain graft\\.(\\w+)".r.findAllMatchIn(readme).map(_.group(1)).toSet
    assert(mains == documented,
      s"undocumented mains: ${mains.diff(documented)}; documented but absent: ${documented.diff(mains)}")
  }

  test("library code never reads or writes the session function registry") {
    // kernels reach plans as columns built from their expressions;
    // GraftExtensions is the one registration path (SQL text only). A
    // registration or a by-name call in library code clobbers a user's
    // function of the same name and drops the injected arity check.
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val banned = Seq("createOrReplaceTempFunction", "call_function(")
    val walk = Files.walk(Paths.get("src/main/scala"))
    val hits = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if banned.exists(line.contains) => s"$f:${i + 1}"
      }
    }.toList finally walk.close()
    assert(hits.isEmpty, s"function-registry use in library code: ${hits.mkString(", ")}")
  }

  test("library code reads parquet footers through Snapshots.footer, never ParquetFileReader.open") {
    // the one-argument open builds its reader options from a fresh
    // Hadoop Configuration, re-parsing the default XML resources on
    // every footer; Snapshots.footer builds them from the cached conf
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(Paths.get("src/main/scala"))
    val hits = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("ParquetFileReader.open") => s"$f:${i + 1}"
      }
    }.toList finally walk.close()
    assert(hits.isEmpty, s"direct footer opens: ${hits.mkString(", ")}")
  }

  test("library code counts staged files from footers, never by reading them back") {
    // a read.parquet(<entry paths>).isEmpty or .count() runs two jobs
    // (schema inference and the read); Snapshots.stagedRows sums the
    // footers' row-group counts on the driver
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(Paths.get("src/main/scala"))
    val hits = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      "read\\.parquet\\(".r.findAllMatchIn(text).flatMap { m =>
        // the argument list, up to its matching close paren
        var depth = 1
        var i = m.end
        while (depth > 0 && i < text.length) {
          text(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ =>
          }
          i += 1
        }
        val args = text.substring(m.end, i)
        val next = text.substring(i).dropWhile(_.isWhitespace)
        if (args.contains("relPath") &&
            (next.startsWith(".isEmpty") || next.startsWith(".count()")))
          Some(s"$f:${text.substring(0, m.start).count(_ == '\n') + 1}")
        else None
      }
    }.toList finally walk.close()
    assert(hits.isEmpty, s"read-backs of staged files: ${hits.mkString(", ")}")
  }

  test("snapshot-store reads take their schema from footers, never from mergeSchema inference") {
    // an inferring read runs a Spark job per call; Snapshots.footerSchema
    // reads one footer per commit on the driver
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val files = Seq("src/main/scala/graft/etl/Snapshots.scala",
      "src/main/scala/graft/sources/SnapshotSource.scala")
    val hits = files.flatMap { f =>
      Files.readAllLines(Paths.get(f)).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("\"mergeSchema\"") => s"$f:${i + 1}"
      }
    }
    assert(hits.isEmpty, s"mergeSchema reads: ${hits.mkString(", ")}")
  }

  test("every registered query appears in SURVEY.md §2 (the judged inventory)") {
    // the coverage checklist is graded row by row — a query registered
    // without an inventory row is invisible to the audit and a silent
    // documentation drift; extract every `backtick` token from §2 and
    // require the whole registry to be covered
    val survey = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val s2 = survey.substring(survey.indexOf("## §2"),
      survey.indexOf("## §3"))
    val documented = "`([a-z0-9_]+)`".r.findAllMatchIn(s2).map(_.group(1)).toSet
    val undocumented = SparkEntry.queries.keySet.diff(documented)
    assert(undocumented.isEmpty, s"registered but missing from SURVEY §2: $undocumented")
  }

  test("entry() produces rows (driver smoke parity)") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }

  test("oracle-checked query schemas contain no raw int/float/timestamp columns") {
    import org.apache.spark.sql.types._
    val s = TestSpark.spark
    SparkEntry.oracleSql.keySet.toSeq.sorted.foreach { name =>
      val schema = SparkEntry.queries(name)(s, TestSpark.sf).schema
      schema.fields.foreach { f =>
        assert(!Seq(IntegerType, ShortType, ByteType, FloatType, TimestampType)
          .contains(f.dataType),
          s"$name.${f.name}: ${f.dataType.simpleString} would break oracle normalization")
      }
    }
  }
}
