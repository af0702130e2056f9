package graft.pipeline

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FileFormat, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.functions.CosineSimilarity

/** Driver-resident rows of small file-backed indexes: the serving path
  * of [[VectorSearch.topK]].
  *
  * Applies when the index frame's optimized plan is a bare
  * `LogicalRelation` over a `HadoopFsRelation` no larger than
  * `spark.sql.autoBroadcastJoinThreshold` — the size Spark already
  * agrees to ship to every executor, so holding it once on the driver
  * is within the same budget (−1 disables the path). Rows are kept per
  * immutable data file, keyed by (path, length, modification time),
  * and the file list comes from the relation's own `FileIndex`, which
  * `spark.read` has already listed. A search therefore:
  *  - reuses the rows of every file it has seen;
  *  - reads the unseen ones (only after a refresh) on the driver, each
  *    whole, with its listed partition values, through the reader the
  *    relation's `FileFormat` builds for the scan — no job; a relation
  *    whose scan would skip corrupt or missing files is declined;
  *  - forgets files the listing no longer carries (an overwritten
  *    batch directory drops its old rows);
  *  - scores every row with [[CosineSimilarity]]'s interpreted `eval`
  *    and keeps a bounded top-k under Catalyst's `InterpretedOrdering`
  *    on (sim DESC NULLS LAST, id ASC NULLS FIRST) — the ordering
  *    `TakeOrderedAndProjectExec` applies to the same sort keys, NaN
  *    first.
  *
  * Resident bytes are capped at the same threshold across relations,
  * least recently used first out; a relation that alone decodes past
  * the cap is served from its freshly loaded rows and not retained.
  */
private[pipeline] object ResidentIndex {

  private final case class FileKey(path: String, length: Long, modified: Long)

  /** Same roots read with the same schema, format and options decode
    * to the same rows per file. */
  private final case class RelationKey(
      roots: Seq[String], schema: StructType, format: String, options: Map[String, String])

  private final class Rows(val byFile: Map[FileKey, Array[UnsafeRow]]) {
    val bytes: Long = byFile.valuesIterator.map(_.map(_.getSizeInBytes.toLong).sum).sum
  }

  /** access-ordered: iteration starts at the least recently used */
  private val resident = new java.util.LinkedHashMap[RelationKey, Rows](16, 0.75f, true)

  /** The top `k` rows of `index` by cosine to `query`, with `sim`
    * appended, as a local relation; None when the index is not a small
    * file-backed relation this path can serve as the scan would. */
  def topK(
      index: DataFrame,
      embeddingCol: String,
      idCol: String,
      query: Seq[Double],
      k: Int): Option[DataFrame] = {
    val conf = index.sparkSession.sessionState.conf
    val cap = conf.autoBroadcastJoinThreshold
    index.queryExecution.optimizedPlan match {
      case l: LogicalRelation if !l.isStreaming && k >= 0 && cap >= 0 => l.relation match {
        case fs: HadoopFsRelation if fs.sizeInBytes <= cap =>
          def ordinal(name: String): Option[Int] =
            l.output.indices.filter(i => conf.resolver(l.output(i).name, name)) match {
              case Seq(i) => Some(i)
              case _ => None
            }
          val servable = for {
            e <- ordinal(embeddingCol)
            if CosineSimilarity.accepts(l.output(e).dataType)
            id <- ordinal(idCol)
            if RowOrdering.isOrderable(l.output(id).dataType)
            if ordinal("sim").isEmpty // withColumn would replace an existing `sim`
          } yield (e, id)
          for {
            (e, id) <- servable
            files <- rows(l, fs, cap)
          } yield rank(index.sparkSession, l, files, e, id, query, k)
        case _ => None
      }
      case _ => None
    }
  }

  private def rank(
      spark: SparkSession,
      l: LogicalRelation,
      files: Seq[Array[UnsafeRow]],
      e: Int,
      id: Int,
      query: Seq[Double],
      k: Int): DataFrame = {
    val n = l.output.size
    val sim = CosineSimilarity.bound(e, l.output(e).dataType, query.toArray)
    val ordering = new InterpretedOrdering(Seq(
      SortOrder(BoundReference(n, DoubleType, nullable = true), Descending),
      SortOrder(BoundReference(id, l.output(id).dataType, nullable = true), Ascending)))
    // max-heap under the search order: the head is the worst row kept
    val top = mutable.PriorityQueue.empty[InternalRow](ordering)
    for (file <- files; row <- file) {
      val scored = new JoinedRow(row, new GenericInternalRow(Array[Any](sim.eval(row))))
      if (top.size < k) top.enqueue(scored)
      else if (k > 0 && ordering.compare(scored, top.head) < 0) {
        top.dequeue()
        top.enqueue(scored)
      }
    }
    val output = l.output.map(_.newInstance()) :+ AttributeReference("sim", DoubleType)()
    val types = output.map(_.dataType)
    val data = top.dequeueAll[InternalRow].reverse.map { r =>
      new GenericInternalRow(Array.tabulate[Any](n + 1)(i => r.get(i, types(i)))): InternalRow
    }
    GraftSqlShim.ofRows(spark, LocalRelation(output, data.toSeq))
  }

  /** Rows of every listed file, in listing order, loading unseen files. */
  private def rows(l: LogicalRelation, fs: HadoopFsRelation, cap: Long): Option[Seq[Array[UnsafeRow]]] =
    synchronized {
      val key = RelationKey(fs.location.rootPaths.map(_.toString), fs.schema,
        fs.fileFormat.getClass.getName, fs.options)
      val dirs = fs.location.listFiles(Nil, Nil)
      val listed = dirs.flatMap(_.files.map(fileKey))
      val held = Option(resident.get(key)).fold(Map.empty[FileKey, Array[UnsafeRow]])(_.byFile)
      val unseen = dirs
        .map(d => d.copy(files = d.files.filterNot(f => held.contains(fileKey(f)))))
        .filter(_.files.nonEmpty)
      val loaded = if (unseen.isEmpty) Some(Map.empty[FileKey, Array[UnsafeRow]]) else load(l, fs, unseen)
      loaded.map { fresh =>
        val now = new Rows(listed.map(f => f -> held.getOrElse(f, fresh(f))).toMap)
        resident.put(key, now)
        var total = resident.values.asScala.map(_.bytes).sum
        val lru = resident.values.iterator
        while (total > cap && lru.hasNext) { total -= lru.next().bytes; lru.remove() }
        listed.map(now.byFile)
      }
    }

  private def fileKey(f: FileStatusWithMetadata): FileKey =
    FileKey(f.getPath.toString, f.getLen, f.getModificationTime)

  /** `dirs`' files read on the driver, each whole, by the relation's
    * own format reader (the scan's decoder, with no job), rows in
    * `l.output` order. None where the scan would skip files this read
    * cannot: `FileScanRDD` implements `ignoreCorruptFiles` and
    * `ignoreMissingFiles`. */
  private def load(
      l: LogicalRelation,
      fs: HadoopFsRelation,
      dirs: Seq[PartitionDirectory]): Option[Map[FileKey, Array[UnsafeRow]]] = {
    val spark = fs.sparkSession
    val conf = spark.sessionState.conf
    val skips = SQLConf.withExistingConf(conf)(new FileSourceOptions(CaseInsensitiveMap(fs.options)))
    if (skips.ignoreCorruptFiles || skips.ignoreMissingFiles) None
    else {
      // as FileSourceStrategy reads: a partition value wins over a
      // data column of the same name
      val required = StructType(fs.dataSchema.filterNot(f =>
        fs.partitionSchema.exists(p => conf.resolver(p.name, f.name))))
      val read = fs.fileFormat.buildReaderWithPartitionValues(spark, fs.dataSchema,
        fs.partitionSchema, required, Nil, fs.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConfWithOptions(fs.options))
      val fields = required ++ fs.partitionSchema
      val project = UnsafeProjection.create(l.output.map { a =>
        BoundReference(fields.indexWhere(f => conf.resolver(f.name, a.name)), a.dataType, a.nullable)
      })
      Some(dirs.flatMap(d => d.files.map { f =>
        val file = PartitionedFileUtil.getPartitionedFile(f, f.getPath, d.values, 0, f.getLen)
        fileKey(f) -> read(file).map(r => project(r).copy()).toArray
      }).toMap)
    }
  }
}
