package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** The self-pruning file listing behind [[GraftTable.read]]: a
  * [[FileIndex]] whose `listFiles` consults the table's persisted
  * zone/Bloom manifests against the predicates Catalyst pushed down, so
  * a PLAIN `read(...).filter(...)` skips files with no explicit prune
  * call — the Delta/Iceberg data-skipping seam, re-expressed on Spark's
  * own scan machinery (the relation stays V1 parquet: vectorized reads,
  * parquet row-group pushdown, and whole-stage codegen all intact).
  *
  * Pruning is CONSERVATIVE-EXACT: a file is skipped only when a
  * manifest PROVES no row can match (zone misses the range / Bloom says
  * definitely-absent); any predicate shape the interpreter doesn't
  * recognize keeps the file, and Spark re-applies the exact predicate to
  * the survivors. String zones compare unsigned UTF-8 bytes —
  * UTF8String's own binary order, the order the manifest's min/max and
  * the residual filter use — never UTF-16 `String` compareTo, which
  * disagrees for supplementary code points vs U+E000–U+FFFF.
  *
  * All maps are keyed by the file's URI path component; manifests are
  * file-count-sized, exactly like every manifest in [[Scale]].
  */
private[graft] final class GraftFileIndex(
    root: Path,
    files: Seq[FileStatus],
    longZones: Map[String, Map[String, (Long, Long)]],
    strZones: Map[String, Map[String, (Array[Byte], Array[Byte])]],
    blooms: Map[String, Map[String, Array[Byte]]]) extends FileIndex {

  // deserialize each bloom once per index instance, not per listFiles
  private val bloomFilters: Map[String, Map[String, BloomFilter]] =
    blooms.map { case (c, m) => c -> m.map { case (f, b) =>
      f -> BloomFilter.readFrom(new java.io.ByteArrayInputStream(b)) } }

  override def rootPaths: Seq[Path] = Seq(root)
  override def partitionSchema: StructType = StructType(Nil)
  override def sizeInBytes: Long = files.map(_.getLen).sum
  override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept =
      if (dataFilters.isEmpty) files
      else files.filter { f =>
        val key = f.getPath.toUri.getPath
        dataFilters.forall(e => mightMatch(key, e))
      }
    Seq(PartitionDirectory(InternalRow.empty, kept.toArray))
  }

  /** Can `file` possibly hold a row satisfying `e`? (three-valued logic
    * collapsed conservatively: unknown ⇒ true). */
  private def mightMatch(file: String, e: Expression): Boolean = e match {
    case And(l, r) => mightMatch(file, l) && mightMatch(file, r)
    case Or(l, r)  => mightMatch(file, l) || mightMatch(file, r)
    case EqualTo(a: Attribute, Literal(v, _)) => pointMight(file, a.name, v)
    case EqualTo(Literal(v, _), a: Attribute) => pointMight(file, a.name, v)
    case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists(l => pointMight(file, a.name, l.asInstanceOf[Literal].value))
    case InSet(a: Attribute, vs) => vs.exists(v => pointMight(file, a.name, v))
    case GreaterThan(a: Attribute, Literal(v, _))        => rangeMight(file, a.name, v, ">")
    case GreaterThanOrEqual(a: Attribute, Literal(v, _)) => rangeMight(file, a.name, v, ">=")
    case LessThan(a: Attribute, Literal(v, _))           => rangeMight(file, a.name, v, "<")
    case LessThanOrEqual(a: Attribute, Literal(v, _))    => rangeMight(file, a.name, v, "<=")
    // literal-on-left comparisons commute by flipping the operator
    case GreaterThan(Literal(v, _), a: Attribute)        => rangeMight(file, a.name, v, "<")
    case GreaterThanOrEqual(Literal(v, _), a: Attribute) => rangeMight(file, a.name, v, "<=")
    case LessThan(Literal(v, _), a: Attribute)           => rangeMight(file, a.name, v, ">")
    case LessThanOrEqual(Literal(v, _), a: Attribute)    => rangeMight(file, a.name, v, ">=")
    // prefix predicates (LIKE 'p%' / startsWith) prune string zones as
    // the interval [p, succ(p)): every s with prefix p satisfies
    // p <= s < succ(p) in unsigned byte order
    case StartsWith(a: Attribute, Literal(v, _)) =>
      asBytes(v) match {
        case Some(p) => strZones.get(a.name).forall(_.get(file).forall {
          case (lo, hi) =>
            cmp(hi, p) >= 0 && byteSuccessor(p).forall(s => cmp(lo, s) < 0)
        })
        case None => true
      }
    case _ => true
  }

  /** Shortest byte string strictly greater than every string with prefix
    * `p`: increment the last byte < 0xFF and truncate after it; None when
    * all bytes are 0xFF (no finite upper bound — callers skip the upper
    * check, staying conservative). */
  private def byteSuccessor(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && p(i) == 0xFF.toByte) i -= 1
    if (i < 0) None
    else {
      val s = java.util.Arrays.copyOfRange(p, 0, i + 1)
      s(i) = (s(i) + 1).toByte
      Some(s)
    }
  }

  /** Equality/IN probe: every manifest that covers the column must say
    * "might contain" — zone AND bloom prune independently. */
  private def pointMight(file: String, col: String, v: Any): Boolean = {
    val zoneOk = asLong(v) match {
      case Some(l) => longZones.get(col).forall(_.get(file).forall {
        case (lo, hi) => l >= lo && l <= hi })
      case None => asBytes(v) match {
        case Some(b) => strZones.get(col).forall(_.get(file).forall {
          case (lo, hi) => cmp(b, lo) >= 0 && cmp(b, hi) <= 0 })
        case None => true
      }
    }
    val bloomOk = asLong(v) match {
      case Some(l) => bloomFilters.get(col).forall(_.get(file).forall(
        _.mightContainLong(l)))
      case None => true
    }
    zoneOk && bloomOk
  }

  /** Range probe against zone bounds: keep the file unless its whole
    * [min, max] zone misses the half-line. */
  private def rangeMight(file: String, col: String, v: Any, op: String): Boolean =
    asLong(v) match {
      case Some(l) => longZones.get(col).forall(_.get(file).forall {
        case (lo, hi) => op match {
          case ">"  => hi > l
          case ">=" => hi >= l
          case "<"  => lo < l
          case "<=" => lo <= l
        }
      })
      case None => asBytes(v) match {
        case Some(b) => strZones.get(col).forall(_.get(file).forall {
          case (lo, hi) => op match {
            case ">"  => cmp(hi, b) > 0
            case ">=" => cmp(hi, b) >= 0
            case "<"  => cmp(lo, b) < 0
            case "<=" => cmp(lo, b) <= 0
          }
        })
        case None => true
      }
    }

  private def asLong(v: Any): Option[Long] = v match {
    case l: Long  => Some(l)
    case i: Int   => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte  => Some(b.toLong)
    case _ => None
  }

  private def asBytes(v: Any): Option[Array[Byte]] = v match {
    case u: UTF8String => Some(u.getBytes)
    case s: String     => Some(s.getBytes(UTF_8))
    case _ => None
  }

  private def cmp(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)
}
