package graft.sources.connector

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

import graft.sources.SnapshotTable

/** DataSource V2 WRITE path for [[SnapshotTable]] roots:
  *
  * {{{
  *   df.write.format("graft-snapshot").option("path", root)
  *     .mode("append").save()      // CAS append commit
  *     .mode("overwrite")          // truncate-replace commit
  * }}}
  *
  * Executor tasks write immutable parquet files straight into a
  * staging segment (parquet-mr, the writer twin of
  * [[GraftPartitionReader]]); the driver's commit computes the same
  * per-file manifest stats `append` would (min/max on the table's
  * cluster key, bloom on its bloom column — one column-pruned pass)
  * and lands the version through the SAME claim/publish CAS protocol
  * as every native commit. A concurrent native `append` and a V2
  * write therefore serialize correctly: one wins version N, the
  * other retries onto N+1 carrying both file sets.
  *
  * When the table is range-clustered, the write REQUESTS an ordered
  * distribution on the cluster key ([[RequiresDistributionAndOrdering]])
  * so Spark range-partitions + sorts the input before the tasks run —
  * new files land as disjoint key ranges and stay prunable, instead
  * of silently eroding the layout.
  *
  * Scope notes (stated): a task attempt that fails aborts and deletes
  * its own file; the whole-job abort deletes the staging segment. A
  * SPECULATIVE twin attempt that loses the commit race leaves an
  * unreferenced file inside the segment — invisible to every reader
  * (the manifest lists only committed files) and reaped with the
  * segment by `vacuum` once no manifest references it. */
private[connector] class GraftWriteBuilder(root: String,
    info: LogicalWriteInfo) extends WriteBuilder with SupportsTruncate {

  private var replace = false

  override def truncate(): WriteBuilder = { replace = true; this }

  override def build(): Write = {
    val schema = info.schema()
    schema.fields.foreach(f =>
      require(GraftSnapshotSource.supported(f.dataType),
        s"graft-snapshot does not write ${f.dataType.simpleString} " +
          s"column '${f.name}'"))
    new GraftWrite(root, schema, replace)
  }
}

private[connector] class GraftWrite(root: String, schema: StructType,
    replace: Boolean) extends Write with RequiresDistributionAndOrdering {

  // the layout new files must maintain (empty for a replace: the new
  // contents define the table, and an explicit layout is the native
  // commit API's job)
  private val (clusterKey, bloomKey) = {
    val spark = SparkSession.active
    if (replace) (None, None)
    else {
      val (ck, bk) = SnapshotTable.layoutOf(spark, root)
      (ck.filter(k => schema.fieldNames.exists(_.equalsIgnoreCase(k))),
        bk.filter(k => schema.fieldNames.exists(_.equalsIgnoreCase(k))))
    }
  }

  /** The table's declared hash-bucket layout (when the batch carries
    * the bucket key): a SQL INSERT then lands INSIDE the layout —
    * clustered-by-bucket distribution, per-bucket file split, bucket
    * ids stamped in the manifest — so storage-partitioned joins
    * survive catalog ingest exactly as they survive `appendBucketed`
    * and the MOR delta writes. Without this, every INSERT INTO a
    * bucketed table would silently demote SPJ to a shuffle until
    * compaction. */
  private val bucketSpec: Option[Seq[(String, Int)]] = {
    if (replace) None
    else SnapshotTable.bucketLayoutOf(
      SnapshotTable.tableProperties(SparkSession.active, root))
      .filter(_.forall { case (k, _) =>
        schema.fieldNames.exists(_.equalsIgnoreCase(k)) })
  }

  /** The table's declared IDENTITY-partition keys (when the batch
    * carries ALL of them): the INSERT clusters by the key tuple and
    * each task splits one file per distinct tuple it holds — files
    * stay VALUE-PURE on every key, so exact partition pruning and the
    * manifest-answered GROUP BY survive catalog ingest exactly as
    * they survive `appendPartitioned`. The catalog refuses declaring
    * both a bucket grid and identity keys, so the two specs never
    * coexist. */
  private val partitionSpec: Option[Seq[String]] = {
    if (replace) None
    else Some(SnapshotTable.partitionKeysOf(
      SnapshotTable.tableProperties(SparkSession.active, root)))
      .filter(ks => ks.nonEmpty && ks.forall(k =>
        schema.fieldNames.exists(_.equalsIgnoreCase(k))))
  }

  /** A clustered table asks Spark to range-partition + sort the input
    * on the cluster key, so each task writes one compact key range —
    * the same shape `stageSegment` builds with repartitionByRange. A
    * BUCKETED table clusters by the bucket transform instead, so each
    * bucket's rows land in one task and the per-bucket file split
    * stays bounded by the bucket count. An identity-PARTITIONED table
    * clusters by the column itself, so each value's rows land whole
    * in one task. */
  override def requiredDistribution(): Distribution =
    (bucketSpec, partitionSpec) match {
      case (Some(layout), _) => Distributions.clustered(layout.map {
        case (k, n) => Expressions.bucket(n, k)
          : org.apache.spark.sql.connector.expressions.Expression
      }.toArray)
      case (None, Some(pks)) => Distributions.clustered(pks.map(pk =>
        Expressions.identity(pk)
          : org.apache.spark.sql.connector.expressions.Expression)
        .toArray)
      case _ => clusterKey.map(k =>
        Distributions.ordered(Array[V2SortOrder](
          Expressions.sort(Expressions.column(k),
            SortDirection.ASCENDING))))
        .getOrElse(Distributions.unspecified())
    }

  override def requiredOrdering(): Array[V2SortOrder] =
    if (bucketSpec.isDefined || partitionSpec.isDefined) Array.empty
    else clusterKey.map(k => Array[V2SortOrder](
      Expressions.sort(Expressions.column(k), SortDirection.ASCENDING)))
      .getOrElse(Array.empty)

  override def toBatch: BatchWrite =
    new GraftBatchWrite(root, schema, replace, clusterKey, bloomKey,
      bucketSpec, partitionSpec)
}

private[connector] case class GraftTaskFile(name: Option[String],
    stats: Option[SnapshotTable.InlineFileStats] = None)
  extends WriterCommitMessage

/** Per-task files of a bucketed append: one (file, bucket, stats)
  * triple per non-empty bucket the task saw. */
private[connector] case class GraftBucketedTaskFiles(
    files: Seq[(String, Int, Option[SnapshotTable.InlineFileStats])])
  extends WriterCommitMessage

/** Per-task files of an identity-partitioned append: one file per
  * distinct partition value the task saw (the value itself is NOT
  * carried — the manifest's min == max stats record it). */
private[connector] case class GraftPartitionedTaskFiles(
    files: Seq[(String, Option[SnapshotTable.InlineFileStats])])
  extends WriterCommitMessage

private[connector] class GraftBatchWrite(root: String,
    schema: StructType, replace: Boolean, clusterKey: Option[String],
    bloomKey: Option[String],
    bucketSpec: Option[Seq[(String, Int)]] = None,
    partitionSpec: Option[Seq[String]] = None) extends BatchWrite {

  private val seg: Path = SnapshotTable.newSegmentPath(root)

  private val statsKey = clusterKey.orElse(bucketSpec.map(_.head._1))
    .orElse(partitionSpec.map(_.head))
  // the FULL grid/identity layout feeds the stats pass: secondary
  // keys get per-file ranges (extraStats) and NDV sketches just like
  // commitBucketedOn's stageBucketed — one key-less append would
  // otherwise drop the secondary key's table-wide NDV (ndvEstimates'
  // all-files rule) and stop range pruning on it for the new files
  private val gridExtra = (bucketSpec.toSeq.flatten.map(_._1) ++
    partitionSpec.toSeq.flatten.drop(1))
    .filterNot(k => statsKey.exists(_.equalsIgnoreCase(k)))
  // single-pass stats (see SnapshotTable.stageSegment): the tasks
  // compute every per-file stat while writing; None restores the
  // read-back pass
  private val statsSpec = SnapshotTable.inlineStatsSpec(
    SparkSession.active, schema, statsKey, bloomKey, gridExtra)

  // session Hadoop conf, BROADCAST once per write job: writers must
  // not fabricate bare Configurations per file, and the factories
  // must ship only the broadcast handle (see SerializableHadoopConf)
  private val hconf =
    Some(SerializableHadoopConf.broadcast(SparkSession.active))
  // destroyed when the job ends: commit runs after every task finished,
  // and Spark calls abort after a failed commit, so release only once
  private var hconfLive = true
  private def releaseHconf(): Unit =
    if (hconfLive) { hconfLive = false; hconf.foreach(_.destroy()) }

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
  : DataWriterFactory = (bucketSpec, partitionSpec) match {
    case (Some(layout), _) => new GraftBucketedWriterFactory(
      seg.toString, schema.json, layout.map { case (k, n) =>
        schema.fieldNames.indexWhere(_.equalsIgnoreCase(k)) -> n },
      statsSpec, hconf)
    case (None, Some(pks)) => new GraftPartitionedWriterFactory(
      seg.toString, schema.json, pks.map(pk =>
        schema.fieldNames.indexWhere(_.equalsIgnoreCase(pk))),
      statsSpec, hconf)
    case _ => new GraftWriterFactory(seg.toString, schema.json,
      statsSpec, hconf)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    releaseHconf()
    // sorted: commit-message arrival order is task-completion order,
    // but manifest order should be partition order (see stageSegment)
    val files = messages.toSeq.flatMap {
      case GraftTaskFile(Some(name), st) =>
        Seq((s"_data/${seg.getName}/$name", -1, st))
      case GraftBucketedTaskFiles(fs) => fs.map { case (name, b, st) =>
        (s"_data/${seg.getName}/$name", b, st) }
      case GraftPartitionedTaskFiles(fs) =>
        fs.map { case (name, st) =>
          (s"_data/${seg.getName}/$name", -1, st) }
      case _ => Seq.empty
    }.sortBy(_._1)
    val rel = files.map(_._1)
    if (rel.isEmpty && !replace) return // empty append: nothing to commit
    val entries1 =
      if (rel.isEmpty) Seq.empty
      else if (statsSpec.isDefined && files.forall(_._3.isDefined))
        files.map { case (r, _, st) =>
          SnapshotTable.inlineEntry(r, st.get, statsKey, bloomKey) }
      else SnapshotTable.statsEntries(spark, root, seg, rel,
        statsKey, bloomKey, zorderExtra = gridExtra)
    // composite identity layout: tail-key NULL counts are zero BY
    // CONSTRUCTION (the writer refused NULL keys) — stamped so tuple
    // purity is verifiable from the manifest, not the declaration
    val partTail = partitionSpec.toSeq.flatten.drop(1)
    val entries0 =
      if (partTail.isEmpty) entries1
      else entries1.map(e =>
        e.copy(colNulls = e.colNulls ++ partTail.map(_ -> 0L)))
    val bucketOf = files.map(f => f._1 -> f._2).toMap
    val entries =
      if (bucketSpec.isEmpty) entries0
      else entries0.map(e => e.copy(extraStats = e.extraStats :+
        ("__bucket", bucketOf(e.path).toString,
          bucketOf(e.path).toString)))
    if (replace)
      SnapshotTable.replaceStaged(spark, root, seg, entries, schema)
    else
      SnapshotTable.appendStaged(spark, root, seg, entries, schema)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    releaseHconf()
    val spark = SparkSession.active
    SnapshotTable.fs(spark, root).delete(seg, true)
  }
}

private[connector] class GraftBucketedWriterFactory(segAbs: String,
    schemaJson: String, bucketKeyIdxs: Seq[(Int, Int)],
    statsSpec: Option[SnapshotTable.InlineStatsSpec] = None,
    hconf: Option[org.apache.spark.broadcast.Broadcast[SerializableHadoopConf]] = None)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
  : DataWriter[InternalRow] =
    new GraftBucketedAppendWriter(segAbs, schemaJson, bucketKeyIdxs,
      partitionId, taskId, statsSpec, hconf)
}

/** Bucketed append writer: rows split per grid cell — PER KEY
  * `pmod(murmur3(k_i), n_i)` folded positionally, which must agree
  * bit-for-bit with [[SnapshotTable.commitBucketedOn]]'s gridCell
  * and the catalog's V2 bucket function — one lazy file per
  * non-empty cell per task. The clustered-by-bucket distribution
  * upstream keeps the total file count bounded by the cell count.
  * NULL keys are refused — the bucket function has no bucket for
  * them, and accepting one would silently break the layout the scan
  * reports. */
private[connector] class GraftBucketedAppendWriter(segAbs: String,
    schemaJson: String, bucketKeyIdxs: Seq[(Int, Int)],
    partitionId: Int, taskId: Long,
    statsSpec: Option[SnapshotTable.InlineStatsSpec] = None,
    hconf: Option[org.apache.spark.broadcast.Broadcast[SerializableHadoopConf]] = None)
  extends DataWriter[InternalRow] {

  private val keyTypes = {
    val fields = DataType.fromJson(schemaJson)
      .asInstanceOf[StructType].fields
    bucketKeyIdxs.map { case (i, _) => fields(i).dataType }
  }

  private val writers =
    scala.collection.mutable.Map.empty[Int, GraftDataWriter]
  // bucket rides as its OWN file-name component ("-bN"): folding it
  // arithmetically into taskId (taskId*K + bucket) aliases across task
  // attempts once buckets > K-1, and an aliased retry's abort() would
  // delete the committed attempt's file — silent data loss.
  private def w(bucket: Int): GraftDataWriter =
    writers.getOrElseUpdate(bucket,
      new GraftDataWriter(segAbs, schemaJson, partitionId, taskId,
        suffix = s"-b$bucket", statsSpec = statsSpec, hconf = hconf))

  private def bucketFor(row: InternalRow): Int = {
    var cell = 0
    var i = 0
    while (i < bucketKeyIdxs.length) {
      val (idx, n) = bucketKeyIdxs(i)
      require(!row.isNullAt(idx),
        "NULL bucket key in a bucketed append (the layout has no " +
          "bucket for NULL)")
      val dt = keyTypes(i)
      val v: Any = dt match {
        case IntegerType | DateType => row.getInt(idx)
        case LongType => row.getLong(idx)
        case StringType => row.getUTF8String(idx)
        case other => throw new UnsupportedOperationException(
          s"bucketed append: unsupported key type $other")
      }
      val h = org.apache.spark.sql.catalyst.expressions
        .Murmur3HashFunction.hash(v, dt, 42L).toInt
      cell = cell * n + (((h % n) + n) % n)
      i += 1
    }
    cell
  }

  override def write(row: InternalRow): Unit = w(bucketFor(row)).write(row)

  override def commit(): WriterCommitMessage =
    GraftBucketedTaskFiles(writers.toSeq.sortBy(_._1).flatMap {
      case (b, dw) =>
        val tf = dw.commit().asInstanceOf[GraftTaskFile]
        tf.name.map(n => (n, b, tf.stats))
    })

  override def abort(): Unit = writers.values.foreach(_.abort())

  override def close(): Unit = writers.values.foreach(_.close())
}

private[connector] class GraftPartitionedWriterFactory(segAbs: String,
    schemaJson: String, keyIdxs: Seq[Int],
    statsSpec: Option[SnapshotTable.InlineStatsSpec] = None,
    hconf: Option[org.apache.spark.broadcast.Broadcast[SerializableHadoopConf]] = None)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
  : DataWriter[InternalRow] =
    new GraftPartitionedAppendWriter(segAbs, schemaJson, keyIdxs,
      partitionId, taskId, statsSpec, hconf)
}

/** Identity-partitioned append writer: one lazy file per DISTINCT
  * partition value TUPLE the task sees — the clustered-by-identity
  * distribution upstream sends each tuple's rows whole to one task,
  * so every file is value-pure on every key and the stats pass
  * records min == max per key (the invariant exact pruning and the
  * manifest GROUP BY key on). NULL keys are refused, like the bucket
  * layout. The per-tuple file index rides the file name ("-pN")
  * purely for uniqueness; the VALUES are recovered from the file's
  * stats, never the name. */
private[connector] class GraftPartitionedAppendWriter(segAbs: String,
    schemaJson: String, keyIdxs: Seq[Int], partitionId: Int,
    taskId: Long,
    statsSpec: Option[SnapshotTable.InlineStatsSpec] = None,
    hconf: Option[org.apache.spark.broadcast.Broadcast[SerializableHadoopConf]] = None)
  extends DataWriter[InternalRow] {

  private val keyTypes = {
    val fields = DataType.fromJson(schemaJson)
      .asInstanceOf[StructType].fields
    keyIdxs.map(fields(_).dataType)
  }

  private val writers =
    scala.collection.mutable.Map.empty[Seq[Any], GraftDataWriter]

  /** An IMMUTABLE map key for the row's partition value tuple —
    * `getUTF8String` returns a buffer the reader reuses, so strings
    * must be copied before they key a map across rows. */
  private def keyOf(row: InternalRow): Seq[Any] =
    keyIdxs.zip(keyTypes).map { case (keyIdx, keyType) =>
      require(!row.isNullAt(keyIdx),
        "NULL partition key in an identity-partitioned write (the " +
          "layout has no partition for NULL)")
      keyType match {
        case IntegerType | DateType => row.getInt(keyIdx)
        case LongType => row.getLong(keyIdx)
        case ShortType => row.getShort(keyIdx)
        case ByteType => row.getByte(keyIdx)
        case StringType => row.getUTF8String(keyIdx).toString
        case other => throw new UnsupportedOperationException(
          s"identity-partitioned append: unsupported key type $other")
      }
    }

  override def write(row: InternalRow): Unit =
    writers.getOrElseUpdate(keyOf(row),
      new GraftDataWriter(segAbs, schemaJson, partitionId, taskId,
        suffix = s"-p${writers.size}", statsSpec = statsSpec,
        hconf = hconf))
      .write(row)

  override def commit(): WriterCommitMessage =
    GraftPartitionedTaskFiles(writers.values.toSeq.flatMap { dw =>
      val tf = dw.commit().asInstanceOf[GraftTaskFile]
      tf.name.map(n => (n, tf.stats))
    }.sortBy(_._1))

  override def abort(): Unit = writers.values.foreach(_.abort())

  override def close(): Unit = writers.values.foreach(_.close())
}

private[connector] class GraftWriterFactory(segAbs: String,
    schemaJson: String,
    statsSpec: Option[SnapshotTable.InlineStatsSpec] = None,
    hconf: Option[org.apache.spark.broadcast.Broadcast[SerializableHadoopConf]] = None)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
  : DataWriter[InternalRow] =
    new GraftDataWriter(segAbs, schemaJson, partitionId, taskId,
      statsSpec = statsSpec, hconf = hconf)
}

/** One parquet file per non-empty task, written with parquet-mr's
  * Group API under a schema translated field-by-field from the Spark
  * one (standard logical types — the stats pass and every Spark
  * reader read these files back natively). The file is created
  * LAZILY on the first row, so empty partitions leave nothing to
  * commit or clean. */
private[connector] class GraftDataWriter(segAbs: String,
    schemaJson: String, partitionId: Int, taskId: Long,
    suffix: String = "",
    statsSpec: Option[SnapshotTable.InlineStatsSpec] = None,
    hconf: Option[org.apache.spark.broadcast.Broadcast[SerializableHadoopConf]] = None)
  extends DataWriter[InternalRow] {

  // the driver-shipped session conf when the factory carried one; a
  // bare Configuration only as a compatibility fallback
  private def fsConf: Configuration =
    hconf.map(_.value.value).getOrElse(new Configuration())

  private val schema =
    DataType.fromJson(schemaJson).asInstanceOf[StructType]
  private val fileName =
    f"part-$partitionId%05d-$taskId$suffix.snappy.parquet"
  private val filePath = new Path(segAbs, fileName)
  private var writer: ParquetWriter[InternalRow] = _
  // single-pass manifest stats, accumulated while writing (see
  // SnapshotTable.InlineStatsAcc) — shipped to the driver in the
  // commit message so the V2 commit needs no read-back pass
  private val acc = statsSpec.map(new SnapshotTable.InlineStatsAcc(_))

  /** The NATIVE write path: Spark's own [[org.apache.spark.sql
    * .execution.datasources.parquet.ParquetWriteSupport]] streams
    * `InternalRow`s straight into the parquet column writers — no
    * per-row Group materialization, no boxing; the same engine (and
    * byte-identical layouts/annotations) as `df.write.parquet`. The
    * previous SimpleGroup writer allocated a tree of boxed values
    * per row — measured 2-3× slower on flat rows. */
  override def write(row: InternalRow): Unit = {
    if (writer == null)
      writer = GraftDataWriter.nativeWriter(filePath, schema,
        base = hconf.map(_.value.value))
    acc.foreach(_.add(row))
    writer.write(row)
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    if (writer == null) GraftTaskFile(None)
    else GraftTaskFile(Some(fileName), acc.map { a =>
      val len = filePath
        .getFileSystem(fsConf).getFileStatus(filePath)
        .getLen
      a.finish(fileName, len)
    })
  }

  override def abort(): Unit = {
    if (writer != null) {
      writer.close()
      new Path(segAbs).getFileSystem(fsConf)
        .delete(filePath, false)
    }
  }

  override def close(): Unit = ()
}

private[sources] object GraftDataWriter {

  /** A parquet writer fed Spark `InternalRow`s directly through
    * Spark's own `ParquetWriteSupport` — the exact engine (and
    * byte-identical layouts, logical annotations, and rebase
    * behavior) behind `df.write.parquet`, minus the per-row Group
    * tree the example writer materializes. Conf keys are pinned
    * explicitly so executor-side writes never depend on a session:
    * standard (non-legacy) layouts, micros timestamps, proleptic
    * (CORRECTED) datetimes. */
  /** The session's `parquet.*` hadoop keys (block/page/dictionary
    * sizing and friends) — captured DRIVER-SIDE and replayed onto the
    * task's bare Configuration so a native write honors the same
    * writer tuning `df.write.parquet` would. */
  def sessionParquetConf(spark: SparkSession): Seq[(String, String)] = {
    val it = spark.sessionState.newHadoopConf().iterator()
    val buf = Seq.newBuilder[(String, String)]
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.startsWith("parquet.")) buf += e.getKey -> e.getValue
    }
    buf.result()
  }

  def nativeWriter(filePath: Path, schema: StructType,
      extraConf: Seq[(String, String)] = Nil,
      base: Option[Configuration] = None)
  : ParquetWriter[InternalRow] = {
    import org.apache.spark.sql.internal.SQLConf
    // a private COPY of the serialized session conf when the caller
    // ships one (setSchema below mutates it); a bare Configuration
    // only when nothing better exists — on a real cluster the session
    // conf carries credentials/fs impls a bare one silently drops
    val conf = base.fold(new Configuration())(b => new Configuration(b))
    extraConf.foreach { case (k, v) => conf.set(k, v) }
    org.apache.spark.sql.execution.datasources.parquet
      .ParquetWriteSupport.setSchema(schema, conf)
    // every key the write support / schema converter reads, pinned
    // by its SQLConf entry (a bare Configuration has none of them,
    // and the converter does conf.get(key).toBoolean — NPE-shaped)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      "TIMESTAMP_MICROS")
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      "false")
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      "CORRECTED")
    // ParquetWriter.Builder does NOT read the sizing keys off the
    // Configuration the way ParquetOutputFormat does — apply them
    // explicitly so `parquet.block.size` / `parquet.page.size` /
    // dictionary toggles behave exactly as under `df.write.parquet`
    new NativeBuilder(filePath).withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withRowGroupSize(conf.getLong("parquet.block.size",
        ParquetWriter.DEFAULT_BLOCK_SIZE.toLong))
      .withPageSize(conf.getInt("parquet.page.size",
        ParquetWriter.DEFAULT_PAGE_SIZE))
      .withDictionaryPageSize(conf.getInt("parquet.dictionary.page.size",
        ParquetWriter.DEFAULT_PAGE_SIZE))
      .withDictionaryEncoding(conf.getBoolean("parquet.enable.dictionary",
        ParquetWriter.DEFAULT_IS_DICTIONARY_ENABLED))
      .build()
  }

  private class NativeBuilder(path: Path)
    extends ParquetWriter.Builder[InternalRow, NativeBuilder](path) {
    override def self(): NativeBuilder = this
    override def getWriteSupport(conf: Configuration)
    : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetWriteSupport
  }
}
