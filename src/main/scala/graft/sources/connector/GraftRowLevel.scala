package graft.sources.connector

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.SnapshotTable
import graft.sources.SnapshotTable.FileEntry

/** DataSource V2 ROW-LEVEL operations for snapshot tables — the SQL
  * surface the reference's Iceberg tables get from their engine
  * (`write.delete.mode` TBLPROPERTIES at
  * `/root/reference/services/streaming-service/api.py:235-238`),
  * re-expressed on the manifest protocol:
  *
  * {{{
  *   UPDATE graft.db.t SET price = 0 WHERE key % 97 = 0
  *   MERGE INTO graft.db.t USING updates u ON t.key = u.key
  *     WHEN MATCHED THEN UPDATE SET *
  *     WHEN NOT MATCHED THEN INSERT *
  *   DELETE FROM graft.db.t WHERE <untranslatable predicate>
  * }}}
  *
  * Spark's group-based (copy-on-write) rewrite drives the whole
  * pipeline; this connector contributes exactly two verbs:
  *
  *  - a SCAN over the table that (a) prunes unaffected files at
  *    compile time from the command's condition (manifest stats +
  *    blooms, the ordinary pushdown path — our `pushFilters` only
  *    ever SKIPS files, never drops rows, which is precisely the
  *    group-read contract: every row of an affected group must reach
  *    the rewrite), (b) prunes again at RUNTIME when Spark's
  *    row-level group filtering feeds the matching keys back through
  *    `SupportsRuntimeFiltering` (file-granularity dynamic pruning),
  *    and (c) RECORDS the final planned file set — the groups whose
  *    rows the rewrite consumed;
  *  - a WRITE whose commit atomically replaces exactly those recorded
  *    files with the rewritten output
  *    ([[SnapshotTable.replaceFilesStaged]]: CAS + snapshot-isolation
  *    validation — concurrent appends carry over, a concurrent
  *    rewrite of a read group or a newer merge-on-read tombstone
  *    aborts with `CommitConflict`).
  *
  * Scale shape: write amplification is O(affected files), not
  * O(table) — an UPDATE touching one key range rewrites the files
  * whose stats intersect it and carries every other file by
  * reference. Rewritten files inherit the table's cluster layout
  * (ordered distribution requested, stats + blooms recorded), so
  * pruning survives any number of row-level commits. Merge-on-read
  * tables compose: the scan reads through tombstones, so the
  * replacement files materialize the merged state of the groups they
  * replace, and carried tombstones keep killing rows only in carried
  * older files. */
private[connector] class GraftRowLevelOperationBuilder(root: String,
    version: Long, tableSchema: StructType,
    info: RowLevelOperationInfo) extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new GraftRowLevelOperation(root, version, tableSchema, info.command())
}

private[connector] class GraftRowLevelOperation(root: String,
    version: Long, tableSchema: StructType,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  /** The file set the configured scan ultimately planned — written by
    * [[GraftScan.planInputPartitions]] (driver-side, after all
    * pruning), read by the commit. Data files only: tombstones ride
    * along in the scan but are never replaced by a COW commit. */
  @volatile private[connector] var plannedFiles: Seq[FileEntry] = Seq.empty

  // one builder, shared across Spark's calls — the scan and the write
  // must describe the SAME read (Iceberg's lazy-scan-builder shape)
  private var scanBuilder: GraftScanBuilder = _

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"GraftRowLevelOperation[$cmd, v$version]"

  /** `_file` — required not for its value (the group commit tracks
    * read files through the scan, not per row) but because Spark's
    * ReplaceData exec applies its row projection ONLY on the
    * metadata-writing task path: with no metadata attributes the
    * writer would receive the RAW child rows, `__row_operation`
    * prefix included, silently shifted against the write schema. */
  override def requiredMetadataAttributes()
  : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftFileMetadataColumn.Name))

  override def newScanBuilder(options: CaseInsensitiveStringMap)
  : ScanBuilder = {
    if (scanBuilder == null)
      scanBuilder = new GraftScanBuilder(root, version, tableSchema,
        onPlan = Some(files => plannedFiles = files.filter(_.kind == "d")))
    scanBuilder
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new GraftReplaceDataWrite(root,
        version, info.schema(), GraftRowLevelOperation.this)
    }
}

/** The ReplaceData write: executor tasks stage rewritten rows as
  * immutable parquet files (the same writer as the V2 append path),
  * the driver commit computes the table-layout stats for the new
  * files and swaps them in for the operation's recorded read set in
  * one CAS manifest commit. */
private[connector] class GraftReplaceDataWrite(root: String,
    version: Long, schema: StructType, op: GraftRowLevelOperation)
  extends Write with RequiresDistributionAndOrdering {

  // rewritten files must keep the table's layout or every row-level
  // statement would erode pruning a little more
  private val (clusterKey, bloomKey) = {
    val (ck, bk) = SnapshotTable.layoutOf(SparkSession.active, root)
    (ck.filter(k => schema.fieldNames.exists(_.equalsIgnoreCase(k))),
      bk.filter(k => schema.fieldNames.exists(_.equalsIgnoreCase(k))))
  }

  /** A declared identity-partition layout is preserved through the
    * rewrite the same way ingest preserves it: cluster by the key
    * tuple, split one file per tuple — an UPDATE must not silently
    * demote the table's manifest GROUP BY and consumed filters to
    * scans. */
  private val partitionKeys: Seq[String] =
    SnapshotTable.partitionKeysOf(
      SnapshotTable.tableProperties(SparkSession.active, root))
      .filter(k => schema.fieldNames.exists(_.equalsIgnoreCase(k)))

  override def requiredDistribution(): Distribution =
    if (partitionKeys.nonEmpty)
      Distributions.clustered(partitionKeys.map(pk =>
        Expressions.identity(pk)
          : org.apache.spark.sql.connector.expressions.Expression)
        .toArray)
    else clusterKey.map(k =>
      Distributions.ordered(Array[V2SortOrder](
        Expressions.sort(Expressions.column(k),
          SortDirection.ASCENDING))))
      .getOrElse(Distributions.unspecified())

  override def requiredOrdering(): Array[V2SortOrder] =
    if (partitionKeys.nonEmpty) Array.empty
    else clusterKey.map(k => Array[V2SortOrder](
      Expressions.sort(Expressions.column(k), SortDirection.ASCENDING)))
      .getOrElse(Array.empty)

  override def description(): String =
    s"graft-snapshot replace-data v$version"

  override def toBatch: BatchWrite =
    new GraftReplaceBatchWrite(root, version, schema, op,
      clusterKey, bloomKey, partitionKeys)
}

/** DELTA-based (merge-on-read) row-level operations — chosen over the
  * copy-on-write path when the table's properties ask for it
  * (`write.delete.mode` / `write.update.mode` / `write.merge.mode` =
  * `merge-on-read`, the exact TBLPROPERTIES the reference sets on its
  * Iceberg table at `services/streaming-service/api.py:235-238`).
  *
  * Shape: Spark's WriteDelta rewrite hands this connector per-row
  * operations (insert / update / delete) with the row id projected
  * out; each task stages inserts + update-replacements as ordinary
  * data files and deleted/updated KEYS as a tombstone file, and the
  * commit appends both to the manifest — ZERO existing files read or
  * rewritten, so a SQL UPDATE hitting every file's key range costs
  * O(batch), not O(table) (the case that makes COW a full rewrite).
  * The sequence rule supplies the semantics: the new tombstone kills
  * only strictly-older rows with its keys, so this commit's own
  * replacement rows survive while every older copy dies. Reads apply
  * tombstones in the scan (the connector's MOR path); `compact`
  * materializes and clears them, restoring the clustered layout the
  * delta batches don't maintain.
  *
  * The row id is the table's merge key: `write.merge.key` property,
  * else the cluster key. Key-uniqueness is the table's contract
  * (same as the native mergeOnRead API); a tombstone kills ALL older
  * rows with a deleted key. */
private[connector] class GraftDeltaOperationBuilder(root: String,
    version: Long, tableSchema: StructType, info: RowLevelOperationInfo,
    key: String) extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new GraftDeltaOperation(root, version, tableSchema, info.command(),
      key)
}

private[connector] class GraftDeltaOperation(root: String,
    version: Long, tableSchema: StructType,
    cmd: RowLevelOperation.Command, key: String) extends SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"GraftDeltaOperation[$cmd, v$version, rowId=$key]"

  override def rowId(): Array[
    org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column(key))

  // the delta scan only LOCATES affected rows; nothing is replaced,
  // so no file recording — stats/bloom pruning and runtime group
  // filtering still narrow the read
  override def newScanBuilder(options: CaseInsensitiveStringMap)
  : ScanBuilder = new GraftScanBuilder(root, version, tableSchema)

  override def newWriteBuilder(info: LogicalWriteInfo)
  : DeltaWriteBuilder = new DeltaWriteBuilder {
    override def build(): DeltaWrite =
      new GraftDeltaWrite(root, info.schema(), tableSchema, key,
        cmd != RowLevelOperation.Command.DELETE)
  }
}

private[connector] class GraftDeltaWrite(root: String,
    rowSchema: StructType, tableSchema: StructType, key: String,
    orderable: Boolean)
  extends DeltaWrite with RequiresDistributionAndOrdering {

  /** The table's declared hash-bucket layout, when its bucket key IS
    * the merge key: delta data files then land INSIDE the layout
    * (clustered-by-bucket distribution + a per-bucket writer split),
    * so storage-partitioned joins survive a history of MOR updates
    * without waiting for compaction. */
  private val bucketSpec: Option[Int] =
    if (!orderable) None
    else {
      val props = SnapshotTable
        .tableProperties(SparkSession.active, root)
      for {
        k <- props.get("graft.bucket.key")
        if k.equalsIgnoreCase(key)
        n <- props.get("graft.bucket.count").flatMap(v =>
          scala.util.Try(v.toInt).toOption)
      } yield n
    }

  /** Delta batches land key-ordered (UPDATE/MERGE — a DELETE's plan
    * carries no data columns to sort on): each task then writes a
    * compact key range, so the staged data files get USEFUL min/max
    * stats and reads keep pruning through a history of MOR updates
    * instead of eroding one delta at a time. On a bucketed table the
    * distribution is clustered by the bucket transform instead, so
    * each bucket's rows land in ONE task and the per-bucket file
    * split stays bounded by the bucket count. */
  override def requiredDistribution(): Distribution =
    bucketSpec match {
      case Some(n) => Distributions.clustered(Array(
        Expressions.bucket(n, key)
          : org.apache.spark.sql.connector.expressions.Expression))
      case None if orderable => Distributions.ordered(Array[V2SortOrder](
        Expressions.sort(Expressions.column(key),
          SortDirection.ASCENDING)))
      case None => Distributions.unspecified()
    }

  override def requiredOrdering(): Array[V2SortOrder] =
    if (orderable && bucketSpec.isEmpty) Array[V2SortOrder](
      Expressions.sort(Expressions.column(key), SortDirection.ASCENDING))
    else Array.empty

  override def description(): String =
    s"graft-snapshot delta write (rowId=$key)"

  override def toBatch: DeltaBatchWrite =
    new GraftDeltaBatchWrite(root, rowSchema, tableSchema, key,
      bucketSpec)
}

private[connector] case class GraftDeltaTaskFiles(
    data: Seq[(String, Int, Option[SnapshotTable.InlineFileStats])],
    tomb: Option[(String, Option[SnapshotTable.InlineFileStats])])
  extends WriterCommitMessage

private[connector] class GraftDeltaBatchWrite(root: String,
    rowSchema: StructType, tableSchema: StructType, key: String,
    bucketSpec: Option[Int]) extends DeltaBatchWrite {

  private val dataSeg = SnapshotTable.newSegmentPath(root)
  private val tombSeg = SnapshotTable.newSegmentPath(root)
  private val keySchema = StructType(Seq(tableSchema.fields
    .find(_.name.equalsIgnoreCase(key)).getOrElse(
      throw new IllegalArgumentException(
        s"merge key '$key' not in table schema")).copy(name = key)))

  // data files inherit the table layout's stats/bloom for pruning;
  // tombstones record key min/max so the read side can skip applying
  // them to disjoint files. Single-pass: the delta writers accumulate
  // these while writing (see SnapshotTable.InlineStatsAcc).
  private val (ck, bk) =
    SnapshotTable.layoutOf(SparkSession.active, root)
  private val dataSpec = SnapshotTable.inlineStatsSpec(
    SparkSession.active, rowSchema, ck.orElse(Some(key)), bk)
  private val tombSpec = SnapshotTable.inlineStatsSpec(
    SparkSession.active, keySchema, Some(key), None)

  // session Hadoop conf, broadcast once per write job (see
  // SerializableHadoopConf)
  private val hconf =
    Some(SerializableHadoopConf.broadcast(SparkSession.active))
  // destroyed when the job ends: commit runs after every task finished,
  // and Spark calls abort after a failed commit, so release only once
  private var hconfLive = true
  private def releaseHconf(): Unit =
    if (hconfLive) { hconfLive = false; hconf.foreach(_.destroy()) }

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
  : DeltaWriterFactory = new GraftDeltaWriterFactory(dataSeg.toString,
    tombSeg.toString, rowSchema.json, keySchema.json,
    if (bucketSpec.isDefined)
      rowSchema.fieldNames.indexWhere(_.equalsIgnoreCase(key))
    else -1,
    bucketSpec.getOrElse(0), dataSpec, tombSpec, hconf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    releaseHconf()
    val dataFiles = messages.toSeq.collect {
      case GraftDeltaTaskFiles(ds, _) => ds.map { case (name, b, st) =>
        (s"_data/${dataSeg.getName}/$name", b, st) }
    }.flatten.sortBy(_._1)
    val dataRel = dataFiles.map(_._1)
    val bucketOf = dataFiles.map(f => f._1 -> f._2).toMap
    val tombFiles = messages.toSeq.collect {
      case GraftDeltaTaskFiles(_, Some((name, st))) =>
        (s"_data/${tombSeg.getName}/$name", st)
    }.sortBy(_._1)
    val tombRel = tombFiles.map(_._1)
    val f = SnapshotTable.fs(spark, root)
    if (dataRel.isEmpty && tombRel.isEmpty) {
      f.delete(dataSeg, true); f.delete(tombSeg, true)
      return // nothing matched and nothing inserted
    }
    val dataEntries0 =
      if (dataRel.isEmpty) Seq.empty
      else if (dataSpec.isDefined && dataFiles.forall(_._3.isDefined))
        dataFiles.map { case (r, _, st) =>
          SnapshotTable.inlineEntry(r, st.get, ck.orElse(Some(key)), bk) }
      else SnapshotTable.statsEntries(spark, root, dataSeg, dataRel,
        ck.orElse(Some(key)), bk)
    val dataEntries =
      if (bucketSpec.isEmpty) dataEntries0
      else dataEntries0.map(e => e.copy(extraStats = e.extraStats :+
        ("__bucket", bucketOf(e.path).toString,
          bucketOf(e.path).toString)))
    val tombEntries =
      if (tombRel.isEmpty) Seq.empty
      else if (tombSpec.isDefined && tombFiles.forall(_._2.isDefined))
        tombFiles.map { case (r, st) =>
          SnapshotTable.inlineEntry(r, st.get, Some(key), None) }
      else SnapshotTable.statsEntries(spark, root, tombSeg, tombRel,
        Some(key), None)
    val batchSchema = if (dataRel.isEmpty) StructType(Nil) else rowSchema
    SnapshotTable.appendDeltaStaged(spark, root,
      Seq(dataSeg, tombSeg).filter(s =>
        (s == dataSeg && dataRel.nonEmpty) ||
          (s == tombSeg && tombRel.nonEmpty)),
      dataEntries, tombEntries, key, batchSchema)
    // clean the empty staging dir the filter above left behind
    if (dataRel.isEmpty) f.delete(dataSeg, true)
    if (tombRel.isEmpty) f.delete(tombSeg, true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    releaseHconf()
    val spark = SparkSession.active
    SnapshotTable.fs(spark, root).delete(dataSeg, true)
    SnapshotTable.fs(spark, root).delete(tombSeg, true)
  }
}

private[connector] class GraftDeltaWriterFactory(dataSegAbs: String,
    tombSegAbs: String, rowSchemaJson: String, keySchemaJson: String,
    bucketKeyIdx: Int, buckets: Int,
    dataSpec: Option[SnapshotTable.InlineStatsSpec] = None,
    tombSpec: Option[SnapshotTable.InlineStatsSpec] = None,
    hconf: Option[org.apache.spark.broadcast.Broadcast[SerializableHadoopConf]] = None)
  extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
  : DeltaWriter[org.apache.spark.sql.catalyst.InternalRow] =
    new GraftDeltaWriter(dataSegAbs, tombSegAbs, rowSchemaJson,
      keySchemaJson, bucketKeyIdx, buckets, partitionId, taskId,
      dataSpec, tombSpec, hconf)
}

/** Lazy parquet writers per task: data rows (inserts + update
  * replacements) and keys (deleted + updated). Files appear only for
  * non-empty streams, so a task that saw no deletes stages no
  * tombstone piece. On a bucketed table (`bucketKeyIdx >= 0`) data
  * rows SPLIT per bucket — one file per bucket per task, each
  * single-bucket by construction; the clustered-by-bucket
  * distribution keeps the total file count bounded by the bucket
  * count, not tasks × buckets. */
private[connector] class GraftDeltaWriter(dataSegAbs: String,
    tombSegAbs: String, rowSchemaJson: String, keySchemaJson: String,
    bucketKeyIdx: Int, buckets: Int, partitionId: Int, taskId: Long,
    dataSpec: Option[SnapshotTable.InlineStatsSpec] = None,
    tombSpec: Option[SnapshotTable.InlineStatsSpec] = None,
    hconf: Option[org.apache.spark.broadcast.Broadcast[SerializableHadoopConf]] = None)
  extends DeltaWriter[org.apache.spark.sql.catalyst.InternalRow] {

  import org.apache.spark.sql.catalyst.InternalRow

  private lazy val keyType = DataType
    .fromJson(keySchemaJson).asInstanceOf[StructType].fields(0).dataType

  private val dataWriters =
    scala.collection.mutable.Map.empty[Int, GraftDataWriter]
  private def dataW(bucket: Int): GraftDataWriter =
    dataWriters.getOrElseUpdate(bucket,
      // bucket is its own file-name component (-1 = the unbucketed
      // singleton): folding it into taskId arithmetically aliases
      // across task attempts once buckets exceed the fold base, and an
      // aliased retry's abort() deletes the committed attempt's file.
      new GraftDataWriter(dataSegAbs, rowSchemaJson, partitionId, taskId,
        suffix = if (bucket < 0) "" else s"-b$bucket",
        statsSpec = dataSpec, hconf = hconf))
  private val tombW =
    new GraftDataWriter(tombSegAbs, keySchemaJson, partitionId, taskId,
      statsSpec = tombSpec, hconf = hconf)

  /** `pmod(murmur3(key), n)` over the row's key value — must agree
    * with the layout function in SnapshotTable.commitBucketed and the
    * catalog's V2 bucket function. */
  private def bucketFor(row: InternalRow): Int =
    if (bucketKeyIdx < 0) -1
    else {
      require(!row.isNullAt(bucketKeyIdx),
        "merge key is null in a delta row (the row-id contract " +
          "declares it non-null)")
      val v: Any = keyType match {
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.DateType =>
          row.getInt(bucketKeyIdx)
        case org.apache.spark.sql.types.LongType =>
          row.getLong(bucketKeyIdx)
        case org.apache.spark.sql.types.StringType =>
          row.getUTF8String(bucketKeyIdx)
        case other => throw new UnsupportedOperationException(
          s"bucketed delta write: unsupported key type $other")
      }
      val h = org.apache.spark.sql.catalyst.expressions
        .Murmur3HashFunction.hash(v, keyType, 42L).toInt
      ((h % buckets) + buckets) % buckets
    }

  override def insert(row: InternalRow): Unit =
    dataW(bucketFor(row)).write(row)

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    tombW.write(id)

  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    tombW.write(id)
    dataW(bucketFor(row)).write(row)
  }

  override def commit(): WriterCommitMessage = {
    val ds = dataWriters.toSeq.sortBy(_._1).flatMap { case (b, w) =>
      val tf = w.commit().asInstanceOf[GraftTaskFile]
      tf.name.map(n => (n, b, tf.stats))
    }
    val t = tombW.commit().asInstanceOf[GraftTaskFile]
    GraftDeltaTaskFiles(ds, t.name.map(n => (n, t.stats)))
  }

  override def abort(): Unit = {
    dataWriters.values.foreach(_.abort()); tombW.abort()
  }

  override def close(): Unit = {
    dataWriters.values.foreach(_.close()); tombW.close()
  }
}

private[connector] class GraftReplaceBatchWrite(root: String,
    version: Long, schema: StructType, op: GraftRowLevelOperation,
    clusterKey: Option[String], bloomKey: Option[String],
    partitionKeys: Seq[String] = Seq.empty)
  extends BatchWrite {

  private val seg = SnapshotTable.newSegmentPath(root)

  // a fresh partitioned table has no entries for layoutOf to read the
  // cluster key from — the declared keys still govern; composite-
  // layout tail keys record extraStats ranges so the rewritten files
  // keep their tuple purity evidence. Single-pass: accumulated by the
  // write tasks (see SnapshotTable.InlineStatsAcc).
  private val statsKey = clusterKey.orElse(partitionKeys.headOption)
  private val statsSpec = SnapshotTable.inlineStatsSpec(
    SparkSession.active, schema, statsKey, bloomKey,
    partitionKeys.drop(1))

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
  : DataWriterFactory =
    if (partitionKeys.nonEmpty)
      new GraftPartitionedWriterFactory(seg.toString, schema.json,
        partitionKeys.map(pk =>
          schema.fieldNames.indexWhere(_.equalsIgnoreCase(pk))),
        statsSpec)
    else new GraftWriterFactory(seg.toString, schema.json, statsSpec)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    // sorted into partition order, same rule as every other commit
    val files = messages.toSeq.flatMap {
      case GraftTaskFile(Some(name), st) =>
        Seq((s"_data/${seg.getName}/$name", st))
      case GraftPartitionedTaskFiles(fs) =>
        fs.map { case (name, st) =>
          (s"_data/${seg.getName}/$name", st) }
      case _ => Seq.empty
    }.sortBy(_._1)
    val rel = files.map(_._1)
    val removed = op.plannedFiles.map(_.path).toSet
    if (rel.isEmpty && removed.isEmpty) {
      // nothing read, nothing written (e.g. the condition pruned every
      // group and no NOT MATCHED insert fired): publish no version
      SnapshotTable.fs(spark, root).delete(seg, true)
      return
    }
    val entries0 =
      if (rel.isEmpty) Seq.empty
      else if (statsSpec.isDefined && files.forall(_._2.isDefined))
        files.map { case (r, st) =>
          SnapshotTable.inlineEntry(r, st.get, statsKey, bloomKey) }
      else SnapshotTable.statsEntries(spark, root, seg, rel,
        statsKey, bloomKey,
        zorderExtra = partitionKeys.drop(1))
    val partTail = partitionKeys.drop(1)
    val entries =
      if (partTail.isEmpty) entries0
      else entries0.map(e =>
        e.copy(colNulls = e.colNulls ++ partTail.map(_ -> 0L)))
    SnapshotTable.replaceFilesStaged(spark, root, seg, entries,
      removed, version, schema)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    SnapshotTable.fs(spark, root).delete(seg, true)
  }
}
