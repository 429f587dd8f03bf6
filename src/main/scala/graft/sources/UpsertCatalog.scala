package graft.sources

import java.util

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.RowDeltaUtils
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Copy-on-write upsert catalog (SURVEY.md §2 E, B43): the DSv2
  * row-level-operations contract implemented end-to-end so `MERGE INTO`
  * runs through Spark's real analyzer → `RewriteMergeIntoTable` →
  * `ReplaceData` pipeline — a COMMITTED upsert with write-side
  * all-or-nothing semantics, graduating the b35 merge-preview join
  * (which could only ever SHOW the post-merge rows) to an actual
  * mutable table.
  *
  * Group granularity is a HASH SHARD (r17 verdict item 4): rows hash
  * into `shards` groups (TBLPROPERTIES 'shards', default 8) on the
  * 'shard.by' column (default: 'rowid', else the first column), and
  * the row-level scan implements `SupportsRuntimeV2Filtering` on that
  * column — Spark's `RowLevelOperationRuntimeGroupFiltering` rule
  * plans a dynamic-pruning subquery over the merge/delete/update
  * condition, pushes the matched key values as an IN predicate, the
  * scan maps them to their shards and reads ONLY those, and `commit`
  * replaces exactly the scanned shards (carry-over rows of a touched
  * shard arrive through ReplaceData's WRITE_WITH_METADATA lane;
  * NOT-MATCHED inserts may land in untouched shards and simply
  * append). A rewrite therefore costs O(touched shards), not O(table)
  * — the same cliff-removal Iceberg/Delta get from file-level
  * copy-on-write. When no runtime filter arrives (the rule can't
  * prune a merge with NOT MATCHED BY SOURCE clauses, which must scan
  * every row), the scan reads everything and commit replaces the full
  * table — the pre-shard behavior, still correct. The shard count
  * maps to files/partitions in a durable store; the planning/commit
  * PROTOCOL this connector proves is unchanged by that mapping.
  *
  * Storage is an in-JVM row store (the same stand-in Spark's own
  * reference row-level-operation table uses): rows live on the driver,
  * ship to tasks inside `InputPartition`s, and come back through
  * `WriterCommitMessage`s. Single-JVM local mode by design — the
  * declared §3 non-goal boundary covers durable storage, not the
  * connector contract.
  *
  * Both scans (the plain read and the row-level group scan) snapshot
  * the rows when they are built and report EXACT statistics of that
  * snapshot (`SupportsReportStatistics`: row count, and the summed
  * byte size of the stored rows), so the planner picks join strategies
  * from real sizes — a broadcast while the table is small, a shuffle
  * once it is not — instead of treating an unsized table as
  * `spark.sql.defaultSizeInBytes` (Long.MaxValue). A plan built after
  * a commit sees the new counts.
  *
  * Registered in [[graft.GraftSession]] as catalog `graft`
  * (`spark.sql.catalog.graft`), so plain SQL works:
  * {{{
  *   CREATE TABLE graft.t (k BIGINT, v STRING);
  *   INSERT INTO graft.t SELECT ...;
  *   MERGE INTO graft.t USING updates ON t.k = updates.k
  *   WHEN MATCHED THEN UPDATE SET ... WHEN NOT MATCHED THEN INSERT ...;
  * }}}
  */
class UpsertCatalog extends TableCatalog {
  private var catName = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catName = name
  override def name(): String = catName

  private def key(ident: Identifier): String =
    (catName +: ident.namespace() :+ ident.name()).mkString(".")

  override def listTables(ns: Array[String]): Array[Identifier] =
    UpsertStore.tables.keys.toArray.filter(_.startsWith(catName + "."))
      .map(k => Identifier.of(Array.empty[String], k.stripPrefix(catName + ".")))
      .sortBy(_.name())

  override def loadTable(ident: Identifier): Table =
    UpsertStore.tables.get(key(ident)) match {
      case Some(st) => new UpsertTable(key(ident), st)
      case None => throw new NoSuchTableException(ident)
    }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val props = {
      import scala.jdk.CollectionConverters._
      properties.asScala.toMap
    }
    if (UpsertStore.tables.putIfAbsent(key(ident),
        new UpsertStore.State(schema, props)).isDefined)
      throw new TableAlreadyExistsException(ident)
    loadTable(ident)
  }

  override def createTable(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    createTable(ident,
      StructType(columns.map(c => StructField(c.name, c.dataType, c.nullable))),
      partitions, properties)

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("upsert catalog tables are schema-fixed")

  override def dropTable(ident: Identifier): Boolean =
    UpsertStore.tables.remove(key(ident)).isDefined

  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException("rename is not supported")
}

/** Driver-side table states, keyed by `<catalog>.<ident>`. */
object UpsertStore {
  final class State(val schema: StructType,
      val props: Map[String, String] = Map.empty) {
    @volatile var rows: Array[InternalRow] = Array.empty

    /** Hash-shard group granularity for group-based (copy-on-write)
      * rewrites: 'shards' buckets on the 'shard.by' column (default:
      * the 'rowid' column, else position 0 — the merge key for every
      * table this repo creates). The hash must be stable across row
      * copies and match the values Spark pushes through the runtime IN
      * filter, so it hashes the VALUE (boxed Long/Int/UTF8String —
      * all content-hashed), never the row object.
      */
    val shards: Int = props.get("shards").map(_.toInt).getOrElse(8)
    require(shards > 0, s"'shards' must be positive, got $shards")
    private val shardByIdx: Int = props.get("shard.by").orElse(props.get("rowid"))
      .map(schema.fieldIndex).getOrElse(0)
    private val shardByType = schema(shardByIdx).dataType
    def shardByName: String = schema(shardByIdx).name
    def shardOf(value: Any): Int =
      java.lang.Math.floorMod(java.util.Objects.hashCode(value), shards)
    def shardOfRow(r: InternalRow): Int = shardOf(r.get(shardByIdx, shardByType))

    /** Diagnostics for the granularity spec pin: how many of `shards`
      * groups the last group-based rewrite replaced.
      */
    @volatile var lastRewriteShards: Int = -1
  }
  val tables: TrieMap[String, State] = TrieMap.empty
}

private[sources] class UpsertTable(tableKey: String, state: UpsertStore.State)
    extends Table with SupportsRead with SupportsWrite with SupportsRowLevelOperations {

  override def name(): String = tableKey
  override def schema(): StructType = state.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new UpsertScanBuilder(state)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new UpsertWriteBuilder(state)

  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () =>
      if (state.props.get("write.mode").contains("delta"))
        new UpsertDeltaOperation(state, info.command(),
          state.props.getOrElse("rowid",
            throw new IllegalArgumentException(
              "delta-mode table requires a 'rowid' table property")))
      else new UpsertRowLevelOperation(state, info.command())
}

private[sources] class UpsertScanBuilder(state: UpsertStore.State) extends ScanBuilder {
  override def build(): Scan = new UpsertScan(state)
}

/** A read of the rows `state` holds when the scan is built; reports
  * their exact statistics. */
private[sources] abstract class UpsertSnapshotScan(state: UpsertStore.State)
    extends Scan with Batch with SupportsReportStatistics {
  protected val snapshot: Array[InternalRow] = state.rows

  override def readSchema(): StructType = state.schema
  override def toBatch: Batch = this
  override def createReaderFactory(): PartitionReaderFactory = UpsertReaderFactory

  private lazy val stats: Statistics = {
    val fallback = state.schema.defaultSize.toLong
    val bytes = snapshot.iterator.map {
      case u: UnsafeRow => u.getSizeInBytes.toLong
      case _ => fallback
    }.sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(snapshot.length.toLong)
    }
  }
  override def estimateStatistics(): Statistics = stats

  // one partition per ~8k rows so a larger table still parallelizes
  protected def partitions(rows: Array[InternalRow]): Array[InputPartition] =
    if (rows.isEmpty) Array(UpsertPartition(Array.empty))
    else rows.grouped(8192).map(g => UpsertPartition(g): InputPartition).toArray
}

private[sources] class UpsertScan(state: UpsertStore.State)
    extends UpsertSnapshotScan(state) {
  override def planInputPartitions(): Array[InputPartition] = partitions(snapshot)
}

private[sources] final case class UpsertPartition(rows: Array[InternalRow])
    extends InputPartition

private[sources] object UpsertReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[UpsertPartition].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = rows(i)
      override def close(): Unit = ()
    }
  }
}

/** Plain writes: INSERT appends; INSERT OVERWRITE / the row-level
  * ReplaceData truncate-and-swap.
  */
private[sources] class UpsertWriteBuilder(state: UpsertStore.State,
    private var replace: Boolean = false) extends WriteBuilder with SupportsTruncate {
  override def truncate(): WriteBuilder = { replace = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new UpsertBatchWrite(state, replace, state.schema)
  }
}

private[sources] class UpsertBatchWrite(state: UpsertStore.State, replace: Boolean,
    schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new UpsertWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val delivered = messages.flatMap(_.asInstanceOf[UpsertCommit].rows)
    // the atomic swap: readers see the old snapshot until this line
    state.synchronized {
      state.rows = if (replace) delivered else state.rows ++ delivered
    }
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private[sources] final case class UpsertCommit(rows: Array[InternalRow])
    extends WriterCommitMessage

/** Task-side writer. Two row shapes arrive, per the DSv2 write
  * contracts:
  *
  *  - plain appends/overwrites: rows match the table schema verbatim;
  *  - group-based row-level rewrites (ReplaceData): Spark's MergeRows
  *    operator prefixes every row with the int `__row_operation` column
  *    ([[RowDeltaUtils.OPERATION_COLUMN]]) — WRITE(5) for rewritten
  *    rows, WRITE_WITH_METADATA(6) for carried-over rows (whose
  *    metadata attrs follow the data columns; this table requests
  *    none). Either way the data columns are positions 1..n and are
  *    projected off through a codegen'd UnsafeProjection; DELETE(1)
  *    never reaches a group-based write (deleted rows are simply
  *    omitted) but is dropped defensively rather than corrupting the
  *    table if a future Spark version changes that.
  */
private[sources] class UpsertWriterFactory(schema: StructType)
    extends DataWriterFactory with Serializable {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val buf = ArrayBuffer.empty[InternalRow]
      private lazy val dropOp = UnsafeProjection.create(
        schema.fields.zipWithIndex.map { case (f, i) =>
          BoundReference(i + 1, f.dataType, f.nullable): Expression
        }.toIndexedSeq)
      override def write(row: InternalRow): Unit =
        if (row.numFields == schema.length) {
          buf += row.copy()
        } else {
          require(row.numFields == schema.length + 1,
            s"unexpected row width ${row.numFields} for schema of ${schema.length}")
          if (row.getInt(0) != RowDeltaUtils.DELETE_OPERATION) buf += dropOp(row).copy()
        }
      override def commit(): WriterCommitMessage = UpsertCommit(buf.toArray)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

/** The group-based row-level operation: scan = the shard-pruning scan
  * below, write = replace exactly the shards that scan read. The scan
  * instance is shared between the read side and the write's commit so
  * the replaced-group set is, by construction, the scanned-group set —
  * the one invariant group-based copy-on-write needs.
  */
private[sources] class UpsertRowLevelOperation(state: UpsertStore.State,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {
  @volatile private var scan: UpsertGroupScan = _
  override def command(): RowLevelOperation.Command = cmd
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => { scan = new UpsertGroupScan(state); scan }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new UpsertGroupWrite(state, () => Option(scan).flatMap(_.touched))
      }
    }
}

/** The row-level scan with hash-shard runtime group filtering.
  *
  * `filterAttributes` advertises the shard-by column; at execution
  * Spark's dynamic-pruning subquery (RowLevelOperationRuntimeGroup-
  * Filtering) collects the DISTINCT shard-by values of rows matched by
  * the operation's condition and pushes them back as
  * `Predicate("IN", FieldReference(col) +: LiteralValue*)`. The scan
  * maps the values to their shards and reads every row OF those shards
  * (a deliberate superset of the matched rows: unmatched rows of a
  * touched shard must flow through ReplaceData's carry-over lane so
  * the shard's full post-operation contents come back to `commit`).
  * `touched = None` (no filter call — e.g. a merge with NOT MATCHED BY
  * SOURCE, which Spark never group-filters) means every shard. The
  * group-filter subquery itself scans through this same instance
  * BEFORE `filter` is invoked, so `planInputPartitions` stays
  * side-effect-free and unfiltered there.
  */
private[sources] class UpsertGroupScan(state: UpsertStore.State)
    extends UpsertSnapshotScan(state)
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  import org.apache.spark.sql.connector.expressions

  @volatile private[sources] var touched: Option[Set[Int]] = None

  override def filterAttributes(): Array[expressions.NamedReference] =
    Array(expressions.Expressions.column(state.shardByName))

  override def filter(
      predicates: Array[expressions.filter.Predicate]): Unit = {
    val shardSets: Seq[Set[Int]] = predicates.toSeq.collect {
      case p if p.name() == "IN" && p.children().nonEmpty &&
          p.children()(0).isInstanceOf[expressions.NamedReference] &&
          p.children()(0).toString.equalsIgnoreCase(state.shardByName) =>
        p.children().drop(1).collect {
          case l: expressions.Literal[_] => state.shardOf(l.value())
        }.toSet
    }
    if (shardSets.nonEmpty) touched = Some(shardSets.reduce(_ intersect _))
  }

  override def planInputPartitions(): Array[InputPartition] =
    partitions(touched match {
      case Some(sh) => snapshot.filter(r => sh(state.shardOfRow(r)))
      case None => snapshot
    })
}

/** ReplaceData commit at shard granularity: drop the rows of exactly
  * the shards the (possibly runtime-filtered) scan read, append the
  * delivered post-operation rows — one atomic swap. With no runtime
  * filter the scanned set is every shard and this degenerates to the
  * full truncate-and-swap.
  */
private[sources] class UpsertGroupWrite(state: UpsertStore.State,
    touchedShards: () => Option[Set[Int]]) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new UpsertWriterFactory(state.schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val delivered = messages.flatMap(_.asInstanceOf[UpsertCommit].rows)
    state.synchronized {
      touchedShards() match {
        case Some(sh) =>
          state.lastRewriteShards = sh.size
          state.rows = state.rows.filterNot(r => sh(state.shardOfRow(r))) ++ delivered
        case None =>
          state.lastRewriteShards = state.shards
          state.rows = delivered
      }
    }
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

/** The DELTA (merge-on-read-style) write path — the scale counterpart
  * of the group-based rewrite above: where copy-on-write delivers the
  * FULL post-merge contents of every affected group, a `SupportsDelta`
  * operation receives only the CHANGED rows, each through a typed
  * callback (`delete(meta, id)` / `update(meta, id, row)` /
  * `insert(row)`), keyed by the declared `rowId` columns. At 100 TB
  * this is the difference between rewriting a partition because one
  * row changed and shipping one tombstone — exactly Iceberg/Delta's
  * MoR write side. Enabled per table with
  * `TBLPROPERTIES ('write.mode'='delta', 'rowid'='<col>')`.
  *
  * Commit applies the deltas to the keyed store: deletes remove the
  * key, updates replace it (the rowId itself is immutable under
  * UPDATE, which Spark guarantees when `representUpdateAsDeleteAndInsert`
  * is false), inserts append. The apply is one driver-side hash pass —
  * the stand-in for a log/compaction scheme, same boundary as the rest
  * of this connector's storage.
  */
private[sources] class UpsertDeltaOperation(state: UpsertStore.State,
    cmd: RowLevelOperation.Command, rowIdCol: String)
    extends RowLevelOperation with SupportsDelta {
  override def command(): RowLevelOperation.Command = cmd
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new UpsertScanBuilder(state)
  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(rowIdCol))
  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite =
          new UpsertDeltaBatchWrite(state, rowIdCol)
      }
    }
}

/** One buffered (op, row) pair per callback; DELETE keeps only the id
  * projection, UPDATE/INSERT the full row.
  */
private[sources] final case class UpsertDeltaCommit(
    ops: Array[(Byte, InternalRow)]) extends WriterCommitMessage

private[sources] class UpsertDeltaBatchWrite(state: UpsertStore.State, rowIdCol: String)
    extends DeltaBatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new UpsertDeltaWriterFactory

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val keyIdx = state.schema.fieldIndex(rowIdCol)
    val keyType = state.schema(keyIdx).dataType
    state.synchronized {
      // keyed apply over the current snapshot
      val byKey = scala.collection.mutable.LinkedHashMap.empty[Any, InternalRow]
      state.rows.foreach(r => byKey(r.get(keyIdx, keyType)) = r)
      messages.foreach { m =>
        m.asInstanceOf[UpsertDeltaCommit].ops.foreach { case (op, row) =>
          op match {
            case UpsertDeltaBatchWrite.Del =>
              byKey.remove(row.get(0, keyType)): Unit // id projection: rowId at 0
            case UpsertDeltaBatchWrite.Upd | UpsertDeltaBatchWrite.Ins =>
              byKey(row.get(keyIdx, keyType)) = row
          }
        }
      }
      state.rows = byKey.values.toArray
    }
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private[sources] object UpsertDeltaBatchWrite {
  val Del: Byte = 1
  val Upd: Byte = 2
  val Ins: Byte = 3
}

private[sources] class UpsertDeltaWriterFactory extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val ops = ArrayBuffer.empty[(Byte, InternalRow)]
      override def delete(meta: InternalRow, id: InternalRow): Unit =
        ops += ((UpsertDeltaBatchWrite.Del, id.copy()))
      override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit =
        ops += ((UpsertDeltaBatchWrite.Upd, row.copy()))
      override def insert(row: InternalRow): Unit =
        ops += ((UpsertDeltaBatchWrite.Ins, row.copy()))
      override def commit(): WriterCommitMessage = UpsertDeltaCommit(ops.toArray)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
