package graft.sources

import java.nio.file.{Path => JPath}

import graft.etl.Snapshots.ManifestEntry
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** The A31 snapshot layer as a Spark [[FileIndex]] — the architecture
  * every open table format's Spark connector converges on (a custom
  * file index under Spark's own parquet scan): the MANIFEST is the
  * listing, so planning never touches the directory tree, and the
  * manifest's zone maps + bloom sidecars prune files DURING PLANNING,
  * from the very predicates Catalyst pushes into the scan.
  *
  * Division of labour, deliberately Spark-first:
  *  - this class decides WHICH files exist (pointer → manifest) and
  *    which of them the pushed data filters can exclude — the
  *    translation itself lives in [[SnapshotPruning]], shared verbatim
  *    with the DSv2 catalog index so the two read stacks cannot
  *    disagree about what a predicate may skip;
  *  - Spark's `ParquetFileFormat` then scans the survivors with the
  *    vectorized reader, row-group pushdown, column pruning and
  *    whole-stage codegen — none of which this layer re-implements.
  *
  * At 100 TB this is the difference between a million-object listing +
  * footer fetches and ONE tiny manifest read on the driver.
  *
  * Reference behavior being served: the release tree a mirror reader
  * resolves via the reference's CURRENT symlink (Base.pm:123-144) —
  * here a reader resolves `_current` (or a pinned snapshot/ref) and
  * plans the exact file list of that release.
  *
  * It lists exactly the entries it is given: a snapshot's data files,
  * or the equality tombstones a merged read scans in one relation.
  * With `seqCol` it also exposes each file's commit seq as a one-column
  * partition value (one partition directory per distinct seq), so every
  * row carries its file's seq through Spark's own file-constant column
  * path — the merged read's sequence-number rule compares these.
  */
final class SnapshotFileIndex(
    root: JPath,
    val snapshotId: Int,
    entries: Seq[ManifestEntry],
    statsCol: Option[String],
    seqCol: Option[String] = None) extends FileIndex {

  override val rootPaths: Seq[HPath] = Seq(new HPath(root.toUri))

  override val partitionSchema: StructType =
    StructType(seqCol.toSeq.map(StructField(_, IntegerType, nullable = false)))

  /** Sizes come from the manifest, not the filesystem — CBO sees the
    * snapshot's true byte size without a single FS call, so a small
    * snapshot joins broadcast-side for free.
    */
  override def sizeInBytes: Long = entries.map(_.bytes).sum

  override def inputFiles: Array[String] =
    entries.map(e => root.resolve(e.relPath).toUri.toString).toArray

  override def refresh(): Unit = () // a snapshot is immutable by contract

  private val bloomOf = SnapshotPruning.bloomLoader(root)
  private val bloomCol = SnapshotPruning.bloomColumn(root)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val cs = dataFilters.flatMap(SnapshotPruning.constraintsOf)
    val kept = if (cs.isEmpty) entries
      else entries.filterNot(SnapshotPruning.skippable(root, _, cs, statsCol, bloomCol, bloomOf))
    if (seqCol.isEmpty)
      Seq(PartitionDirectory(InternalRow.empty,
        kept.map(SnapshotPruning.statusWithMetadata(root, _))))
    else {
      // Spark drops partition filters from the post-scan filter, so a
      // predicate on the seq column must prune directories here
      val keep = partitionFilters.map { f =>
        Predicate.createInterpreted(f.transform {
          case a: AttributeReference => BoundReference(0, IntegerType, nullable = false)
        })
      }
      kept.groupBy(_.seq).toSeq.sortBy(_._1).map { case (q, es) =>
        (InternalRow(q), es)
      }.filter { case (v, _) => keep.forall(_.eval(v)) }.map { case (v, es) =>
        PartitionDirectory(v, es.map(SnapshotPruning.statusWithMetadata(root, _)))
      }
    }
  }
}
