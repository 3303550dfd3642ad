package graft.sql

import graft.lake.Sidecar
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.sources

/** File-level data skipping for catalog scans over Snapshots-versioned
  * tables, driven by the version's [[graft.lake.Sidecar]] (one row per
  * live file with per-column min/max). This is
  * the SQL half of `readVersionPruned`: the scan's PUSHED data filters are
  * evaluated against each file's committed stat ranges, and files whose
  * ranges provably cannot match are dropped before any byte is read — so
  * `SELECT … FROM graft.t VERSION AS OF 2 WHERE id BETWEEN lo AND hi`
  * opens the same candidate set the Scala API does.
  *
  * Conservative by construction, mirroring `Snapshots.candidateFiles`:
  * a file absent from the sidecar, a column without stats (or with null
  * min/max), an untranslatable predicate shape, or an incomparable value
  * pair all KEEP the file; Spark's row-level filter always re-applies
  * downstream, so a pruned scan is result-identical to the unpruned one.
  */
object SidecarSkip {

  /** Relative path under the table's `data/` dir — the sidecar's file key
    * (partition segments are always `c=v`, so no later segment can equal
    * "data"; same contract as the stats derivation).
    */
  private def relOf(path: String): String = {
    val i = path.lastIndexOf("/data/")
    if (i < 0) path else path.substring(i + "/data/".length)
  }

  /** Drop files whose stat ranges prove the pushed filters can't match;
    * surviving files keep their bin-packed grouping (partitions only
    * shrink), empty partitions disappear, indices renumber densely.
    */
  def prune(partitions: Array[InputPartition], stats: Sidecar,
      pushed: Array[sources.Filter]): Array[InputPartition] = {
    if (pushed.isEmpty) return partitions
    var idx = -1
    partitions.flatMap {
      case fp: FilePartition =>
        val kept = fp.files.filter { pf =>
          stats.ranges.get(relOf(pf.filePath.toPath.toString)) match {
            case Some(cs) => pushed.forall(f => mayMatch(cs.get, f))
            case None => true // not in the sidecar: read conservatively
          }
        }
        if (kept.isEmpty) None
        else { idx += 1; Some(FilePartition(idx, kept)) }
      case other => Some(other)
    }
  }

  /** Can a file with the given per-column ranges contain a matching row?
    * Unknown shapes and incomparable values answer yes.
    */
  private[sql] def mayMatch(range: String => Option[(Any, Any)],
      f: sources.Filter): Boolean = f match {
    case sources.And(l, r) => mayMatch(range, l) && mayMatch(range, r)
    case sources.Or(l, r) => mayMatch(range, l) || mayMatch(range, r)
    case sources.EqualTo(a, v) => overlaps(range(a), v, v)
    case sources.EqualNullSafe(a, v) if v != null => overlaps(range(a), v, v)
    case sources.GreaterThan(a, v) => ge(range(a), v) // max >= v ⊇ max > v
    case sources.GreaterThanOrEqual(a, v) => ge(range(a), v)
    case sources.LessThan(a, v) => le(range(a), v)
    case sources.LessThanOrEqual(a, v) => le(range(a), v)
    case sources.In(a, vs) if vs != null && vs.nonEmpty =>
      vs.exists(v => overlaps(range(a), v, v))
    // no null counts in the sidecar → IsNull/IsNotNull/Not keep the file
    case _ => true
  }

  /** [min, max] ∩ [lo, hi] ≠ ∅ (true when unknown). */
  private def overlaps(r: Option[(Any, Any)], lo: Any, hi: Any): Boolean =
    r match {
      case Some((mn, mx)) =>
        cmp(mn, hi).forall(_ <= 0) && cmp(mx, lo).forall(_ >= 0)
      case None => true
    }

  private def ge(r: Option[(Any, Any)], v: Any): Boolean =
    r.forall { case (_, mx) => cmp(mx, v).forall(_ >= 0) }

  private def le(r: Option[(Any, Any)], v: Any): Boolean =
    r.forall { case (mn, _) => cmp(mn, v).forall(_ <= 0) }

  /** Order two stat/filter values, None when incomparable (mixed numeric
    * widths compare exactly via BigDecimal; NaN/∞ are incomparable →
    * conservative).
    */
  private def cmp(a: Any, b: Any): Option[Int] =
    (toBig(a), toBig(b)) match {
      case (Some(x), Some(y)) => Some(x.compare(y))
      case _ => (a, b) match {
        case (x: String, y: String) => Some(x.compareTo(y))
        case (x: java.sql.Date, y: java.sql.Date) => Some(x.compareTo(y))
        case (x: java.sql.Timestamp, y: java.sql.Timestamp) => Some(x.compareTo(y))
        case (x: java.time.LocalDate, y: java.time.LocalDate) => Some(x.compareTo(y))
        case (x: java.time.Instant, y: java.time.Instant) => Some(x.compareTo(y))
        case _ => None
      }
    }

  private def toBig(x: Any): Option[BigDecimal] = x match {
    case n: java.lang.Byte => Some(BigDecimal(n.intValue))
    case n: java.lang.Short => Some(BigDecimal(n.intValue))
    case n: java.lang.Integer => Some(BigDecimal(n.intValue))
    case n: java.lang.Long => Some(BigDecimal(n.longValue))
    case n: java.lang.Float if !n.isNaN && !n.isInfinite =>
      Some(BigDecimal(n.doubleValue))
    case n: java.lang.Double if !n.isNaN && !n.isInfinite =>
      Some(BigDecimal(n.doubleValue))
    case n: java.math.BigDecimal => Some(BigDecimal(n))
    case n: BigDecimal => Some(n)
    case _ => None
  }
}
