package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.execution.datasources.parquet.SidecarReader
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Merge-on-read row mask applied inside the scan task: a row of a data
  * file survives unless one of THAT file's position-delete sidecars
  * lists its ordinal, or one of its equality-delete sidecars lists its
  * key. The expression carries only manifest-sized pointers (file group
  * → sidecar paths) and Spark's own parquet read function; the first
  * time a task meets a file it loads that file's deleted positions
  * (sorted) and key sets from the sidecars, memoized per sidecar for the
  * task. A masked read is therefore one scan job at any sidecar count —
  * the same split Delta (deletion vectors) and Iceberg (`DeleteFilter`)
  * make: ship pointers to the reader, load a file's deletes where the
  * file is read.
  *
  * Key matching is exactly a `left_anti` join's on the key columns:
  * both sides compare after widening to one type (int data against long
  * keys compare as long); a NULL in any key column never matches, on
  * either side; floating keys compare as `NormalizeFloatingNumbers`
  * leaves them (every NaN equal, -0.0 = 0.0); strings and binaries by
  * their bytes. */
object MorMask {

  /** The position-delete sidecar schema: (file group, row ordinal), as
    * the merge-on-read delete stages it from `_metadata`. */
  val DvSchema: StructType = StructType(Seq(
    StructField("grp", StringType), StructField("pos", LongType)))

  private val Slash = UTF8String.fromString("/")

  /** A data file's position-delete group as the scan derives it: the
    * last two segments of its `_metadata.file_path` (txn dir + file
    * name, url-encoded as Spark reports the path). */
  def grpOf(filePath: UTF8String): UTF8String =
    filePath.subStringIndex(Slash, -2)

  def grpOf(filePath: String): String =
    grpOf(UTF8String.fromString(filePath)).toString

  /** What a task needs to mask one read. `keyCasts(i)` turns key column
    * i of a key-sidecar row into the comparison type (a bound reference
    * when the sidecar already holds it). Readers are null when the read
    * carries no mask of their kind. */
  final class Spec(
      val dvs: Map[String, Array[String]],
      val eqs: Map[String, Array[String]],
      val sizes: Map[String, Long],
      val dvReader: SidecarReader,
      val keyReader: SidecarReader,
      val keyCasts: Array[Expression]) extends Serializable {
    override def toString: String =
      s"MorMask.Spec(${dvs.size} dv'd, ${eqs.size} eq-deleted files)"
  }

  /** Key column i of a key sidecar (stored as `stored`) as the
    * comparison type `cmp` both sides widen to. */
  def keyCast(i: Int, stored: DataType, cmp: DataType,
      timeZone: String): Expression = {
    val ref = BoundReference(i, stored, nullable = true)
    if (stored == cmp) ref else Cast(ref, cmp, Some(timeZone))
  }

  /** The keep-row predicate: `filePath` / `rowIndex` are the scan's
    * `_metadata.file_path` / `_metadata.row_index`, `keys` the data's key
    * columns already widened to the comparison types. */
  def keep(spec: Spec, filePath: Column, rowIndex: Column,
      keys: Seq[Column]): Column =
    ColumnBridge.column(MorMaskExpr(
      (Seq(filePath, rowIndex) ++ keys).map(ColumnBridge.expression), spec))

  /** One position-delete sidecar's ordinals, grouped by file group. */
  def positionsByGrp(reader: SidecarReader, path: String,
      size: Long): Map[String, Array[Long]] = {
    val by = mutable.HashMap.empty[String, mutable.ArrayBuilder.ofLong]
    reader.rows(path, size).foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1))
        by.getOrElseUpdate(r.getUTF8String(0).toString,
          new mutable.ArrayBuilder.ofLong) += r.getLong(1)
    }
    by.map { case (g, b) => g -> b.result() }.toMap
  }

  /** The union of `parts`, sorted, duplicates dropped. */
  def sortedDistinct(parts: Iterable[Array[Long]]): Array[Long] = {
    val all = parts.flatten.toArray
    java.util.Arrays.sort(all)
    var n = 0
    var i = 0
    while (i < all.length) {
      if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(all, n)
  }

  /** A comparison-typed key value in the form whose `equals` is the
    * join's equality; null stays null. Stored values must not alias a
    * reader's buffers, so `copy` clones strings and binaries. */
  private[functions] def canon(v: Any, copy: Boolean): Any = v match {
    case null                  => null
    case l: java.lang.Long     => l
    case i: java.lang.Integer  => java.lang.Long.valueOf(i.longValue)
    case s: java.lang.Short    => java.lang.Long.valueOf(s.longValue)
    case b: java.lang.Byte     => java.lang.Long.valueOf(b.longValue)
    case d: java.lang.Double   => bits(d.doubleValue)
    case f: java.lang.Float    => bits(f.doubleValue)
    case s: UTF8String         => if (copy) s.clone() else s
    case b: Array[Byte]        =>
      java.nio.ByteBuffer.wrap(if (copy) b.clone() else b)
    case other                 => other
  }

  // NormalizeFloatingNumbers: -0.0 folded into 0.0 here, and
  // doubleToLongBits maps every NaN to one value
  private def bits(d: Double): java.lang.Long =
    java.lang.Long.valueOf(java.lang.Double.doubleToLongBits(
      if (d == 0.0d) 0.0d else d))
}

/** Per-task state of one [[MorMaskExpr]]: the current file's mask and
  * the sidecars loaded so far. */
private final class MorMaskState(spec: MorMask.Spec) {
  private var file: UTF8String = _
  private var positions: Array[Long] = _
  private var keySets: Array[java.util.HashSet[Any]] = _
  private val positionsBySidecar =
    mutable.HashMap.empty[String, Map[String, Array[Long]]]
  private val keysBySidecar =
    mutable.HashMap.empty[String, java.util.HashSet[Any]]

  /** Switch to the file at `path` unless it is the current one. */
  def enter(path: UTF8String): Unit =
    if (file == null || file != path) {
      file = path.clone()
      val grp = MorMask.grpOf(path).toString
      positions = spec.dvs.get(grp).map(ps => MorMask.sortedDistinct(
        ps.toSeq.flatMap(p => positionsOf(p).get(grp)))).orNull
      keySets = spec.eqs.get(grp).map(_.map(keysOf)).orNull
    }

  def deletedAt(pos: Long): Boolean =
    positions != null &&
      java.util.Arrays.binarySearch(positions, pos) >= 0

  def hasKeys: Boolean = keySets != null

  /** Whether the row with key values `keys` (comparison-typed, in key
    * column order) is equality-deleted in the current file. */
  def deletedKey(keys: Array[AnyRef]): Boolean = {
    var k: Any = null
    if (keys.length == 1) {
      k = MorMask.canon(keys(0), copy = false)
      if (k == null) return false
    } else {
      val b = List.newBuilder[Any]
      var i = 0
      while (i < keys.length) {
        val c = MorMask.canon(keys(i), copy = false)
        if (c == null) return false
        b += c
        i += 1
      }
      k = b.result()
    }
    var i = 0
    while (i < keySets.length) {
      if (keySets(i).contains(k)) return true
      i += 1
    }
    false
  }

  private def positionsOf(path: String): Map[String, Array[Long]] =
    positionsBySidecar.getOrElseUpdate(path,
      MorMask.positionsByGrp(spec.dvReader, path, spec.sizes(path)))

  private def keysOf(path: String): java.util.HashSet[Any] =
    keysBySidecar.getOrElseUpdate(path, {
      val set = new java.util.HashSet[Any]
      val casts = spec.keyCasts
      spec.keyReader.rows(path, spec.sizes(path)).foreach { r =>
        if (casts.length == 1) {
          val c = MorMask.canon(casts(0).eval(r), copy = true)
          if (c != null) set.add(c)
        } else {
          val vs = casts.toList.map(e => MorMask.canon(e.eval(r), copy = true))
          if (!vs.contains(null)) set.add(vs)
        }
      }
      set
    })
}

/** `graft_mor_mask(file_path, row_index, keys…)`: true iff the row
  * survives its file's merge-on-read deletes (see [[MorMask]]). */
case class MorMaskExpr(children: Seq[Expression], spec: MorMask.Spec)
    extends Expression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_mor_mask"

  // one per deserialized copy of the expression, i.e. per task
  @transient private lazy val state = new MorMaskState(spec)
  @transient private lazy val keyBuf = new Array[AnyRef](children.size - 2)

  /** Called by the generated code. */
  def keepRow(path: UTF8String, pos: Long, keys: Array[AnyRef]): Boolean =
    path == null || {
      val s = state
      s.enter(path)
      !s.deletedAt(pos) && !(s.hasKeys && s.deletedKey(keys))
    }

  override def eval(input: InternalRow): Any = {
    val path = children.head.eval(input).asInstanceOf[UTF8String]
    val pos = children(1).eval(input).asInstanceOf[Long]
    var i = 0
    while (i < keyBuf.length) {
      keyBuf(i) = children(i + 2).eval(input).asInstanceOf[AnyRef]
      i += 1
    }
    keepRow(path, pos, keyBuf)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("morMask", this, getClass.getName)
    val evals = children.map(_.genCode(ctx))
    val keys = ctx.addMutableState("Object[]", "morMaskKeys",
      v => s"$v = new Object[${children.size - 2}];")
    val fill = children.drop(2).zip(evals.drop(2)).zipWithIndex.map {
      case ((c, e), i) =>
        val boxed =
          if (CodeGenerator.isPrimitiveType(c.dataType))
            s"${CodeGenerator.boxedType(c.dataType)}.valueOf(${e.value})"
          else e.value.toString
        s"$keys[$i] = ${e.isNull} ? null : (Object) $boxed;"
    }.mkString("\n")
    val path = evals.head
    val pos = evals(1)
    ev.copy(code = code"""
      ${evals.map(_.code).reduce(_ + _)}
      $fill
      boolean ${ev.value} = $self.keepRow(
        ${path.isNull} ? null : ${path.value}, ${pos.value}, $keys);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}
