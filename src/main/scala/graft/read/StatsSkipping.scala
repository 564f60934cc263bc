package graft.read

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import graft.meta.{ColStats, FileStats, ResolvedFile, TableInfo}
import graft.write.StatsCompare

/** Metadata-level file skipping over [[graft.meta.FileStats]] bounds.
  *
  * Three-valued evaluation: a file is dropped only when its stats PROVE no
  * row can satisfy the filters; unknown (missing stats, unsupported filter,
  * schema-evolved column) always keeps the file. Spark re-applies every
  * filter above the scan, so skipping is purely an optimization and can
  * never change results — PROVIDED the filters are merge-safe, which
  * [[prune]] decides per merge group, the unit the merge itself works in:
  * key filters may skip any file (a merged row's key equals its key in
  * every contributing file, so a key-range exclusion is exact); VALUE
  * filters may skip only files of a single-run group (a multi-run group's
  * merged value could differ from a dropped file's contribution — dropping
  * the newer version would resurface the older one).
  */
object StatsSkipping {

  /** Drop files that provably contain no matching row.
    *
    * Merge safety is decided per merge group of a PK table — (range
    * partition, bucket) when `snapshot` carries one key->bucket mapping,
    * the whole range partition when it spans a re-bucket flip or is
    * mapping-ambiguous (a key's versions may then sit in two buckets).
    * Groups are classified from `snapshot`, the unpruned file set the
    * read resolved: a caller re-pruning an already-pruned set (runtime
    * filtering) must pass the original so a group that lost runs to an
    * earlier prune still counts as multi-run. */
  def prune(
      info: TableInfo,
      schema: StructType,
      files: Seq[ResolvedFile],
      filters: Seq[Filter],
      snapshot: Option[Seq[ResolvedFile]] = None): Seq[ResolvedFile] =
    if (filters.isEmpty || files.isEmpty) files
    else files.filter(fileMightMatch(info, schema, filters, snapshot.getOrElse(files)))

  /** Rewrite-granularity pruning for the tiered UPDATE/DELETE path: a
    * rewrite must replace ALL runs of a (partition, bucket) together (a
    * partial-run rewrite would reorder commit ordinals and corrupt the
    * merge), so skipping here drops whole GROUPS — a (partition, bucket)
    * of a PK table, a single file of a non-PK table — and only when no
    * file in the group might match, under [[prune]]'s merge-safety rule. */
  def pruneGroups(
      info: TableInfo,
      schema: StructType,
      files: Seq[ResolvedFile],
      filters: Seq[Filter]): Seq[ResolvedFile] = {
    if (filters.isEmpty || files.isEmpty) return files
    val keep = fileMightMatch(info, schema, filters, files)
    files.groupBy(f =>
      if (info.hasPrimaryKey) (f.partitionDesc, f.file.bucketId.toString)
      else (f.partitionDesc, f.file.path))
      .values.filter(_.exists(keep)).flatten.toSeq
  }

  /** Whether a file's stats leave a row that might satisfy every
    * merge-safe filter: all `filters` for files of single-run groups of
    * `snapshot` (and of non-PK tables), only the key filters otherwise. */
  private def fileMightMatch(info: TableInfo, schema: StructType,
      filters: Seq[Filter], snapshot: Seq[ResolvedFile]): ResolvedFile => Boolean = {
    val keyCols = (info.rangeColumns ++ info.hashColumns).toSet
    val keyFilters = filters.filter(_.references.forall(keyCols.contains))
    val multiRun: ResolvedFile => Boolean =
      if (!info.hasPrimaryKey) _ => false
      else multiRunGroups(info, snapshot)
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    f => {
      val safe = if (multiRun(f)) keyFilters else filters
      safe.isEmpty || {
        val st = FileStats.decode(f.file.stats)
        st.isEmpty || safe.forall(mightMatch(_, st, types))
      }
    }
  }

  /** Membership test for the multi-run merge groups of `snapshot` (see
    * [[prune]] for the grouping). */
  private def multiRunGroups(info: TableInfo,
      snapshot: Seq[ResolvedFile]): ResolvedFile => Boolean = {
    val oneMapping = graft.meta.RebucketLog
      .epochsOf(info.properties, info.bucketNum, snapshot).exists(_.size <= 1)
    val groupOf: ResolvedFile => (String, Int) =
      if (oneMapping) f => (f.partitionDesc, f.file.bucketId)
      else f => (f.partitionDesc, 0)
    val multi = snapshot.groupBy(groupOf).iterator.collect {
      case (g, fs) if fs.iterator.map(_.commitOrdinal).distinct.size > 1 => g
    }.toSet
    f => multi.contains(groupOf(f))
  }

  /** Could any row of a file with these stats satisfy the filter?
    * Unknown => true. */
  def mightMatch(
      filter: Filter,
      stats: Map[String, ColStats],
      types: Map[String, DataType]): Boolean = filter match {
    case And(l, r) => mightMatch(l, stats, types) && mightMatch(r, stats, types)
    case Or(l, r) => mightMatch(l, stats, types) || mightMatch(r, stats, types)
    case EqualTo(a, v) => rangeContains(a, v, stats, types)
    case EqualNullSafe(a, null) => stats.get(a).forall(_.hn)
    case EqualNullSafe(a, v) => rangeContains(a, v, stats, types)
    case In(a, vs) =>
      if (vs == null || vs.isEmpty) true
      else vs.exists(v => rangeContains(a, v, stats, types))
    case GreaterThan(a, v) => cmpMax(a, v, stats, types).forall(_ > 0)
    case GreaterThanOrEqual(a, v) => cmpMax(a, v, stats, types).forall(_ >= 0)
    case LessThan(a, v) => cmpMin(a, v, stats, types).forall(_ > 0)
    case LessThanOrEqual(a, v) => cmpMin(a, v, stats, types).forall(_ >= 0)
    case IsNull(a) => stats.get(a).forall(_.hn)
    case IsNotNull(a) => !stats.get(a).exists(_.an)
    case StringStartsWith(a, p) if p != null => prefixOverlaps(a, p, stats)
    case _ => true // Not(...) and anything else: keep
  }

  /** encode a filter literal into the stats string domain; None = unknown */
  private def encodeLit(v: Any, dt: DataType): Option[String] = (v, dt) match {
    case (null, _) => None
    case (n: Number, ByteType | ShortType | IntegerType | LongType) =>
      Some(n.longValue.toString)
    case (n: Number, FloatType | DoubleType) => Some(n.doubleValue.toString)
    case (s: String, StringType) => Some(s)
    case (s: org.apache.spark.unsafe.types.UTF8String, StringType) => Some(s.toString)
    case (d: java.sql.Date, DateType) => Some(d.toLocalDate.toEpochDay.toString)
    case (d: java.time.LocalDate, DateType) => Some(d.toEpochDay.toString)
    case (t: java.sql.Timestamp, TimestampType) =>
      Some((math.multiplyExact(t.getTime / 1000, 1000000L) +
        t.getNanos / 1000).toString)
    case (i: java.time.Instant, TimestampType) =>
      Some((math.multiplyExact(i.getEpochSecond, 1000000L) + i.getNano / 1000).toString)
    case (t: java.time.LocalDateTime, TimestampNTZType) =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      Some((math.multiplyExact(i.getEpochSecond, 1000000L) + i.getNano / 1000).toString)
    case _ => None
  }

  /** compare(v, min) — None = unknown / must keep */
  private def cmpMin(a: String, v: Any, stats: Map[String, ColStats],
      types: Map[String, DataType]): Option[Int] =
    for {
      cs <- stats.get(a); if !cs.an
      dt <- types.get(a)
      mn <- cs.mn
      lit <- encodeLit(v, dt)
    } yield StatsCompare.compare(dt, lit, mn)

  private def cmpMax(a: String, v: Any, stats: Map[String, ColStats],
      types: Map[String, DataType]): Option[Int] =
    for {
      cs <- stats.get(a); if !cs.an
      dt <- types.get(a)
      mx <- cs.mx
      lit <- encodeLit(v, dt)
    } yield StatsCompare.compare(dt, mx, lit)

  private def rangeContains(a: String, v: Any, stats: Map[String, ColStats],
      types: Map[String, DataType]): Boolean =
    stats.get(a) match {
      case Some(cs) if cs.an => false // all null: no non-null value matches
      case _ =>
        cmpMin(a, v, stats, types).forall(_ >= 0) &&
          cmpMax(a, v, stats, types).forall(_ >= 0)
    }

  /** [min, max] overlaps the set of strings with prefix `p`:
    * max >= p (byte order) AND min's p-length byte prefix <= p. */
  private def prefixOverlaps(a: String, p: String,
      stats: Map[String, ColStats]): Boolean =
    stats.get(a) match {
      case Some(cs) if cs.an => false
      case Some(cs) =>
        val pb = p.getBytes(StandardCharsets.UTF_8)
        val maxOk = cs.mx.forall(mx =>
          StatsCompare.compareUtf8(mx, p) >= 0)
        val minOk = cs.mn.forall { mn =>
          val mb = mn.getBytes(StandardCharsets.UTF_8)
          val pre = java.util.Arrays.copyOf(mb, math.min(mb.length, pb.length))
          java.util.Arrays.compareUnsigned(pre,
            java.util.Arrays.copyOf(pb, pre.length)) <= 0
        }
        maxOk && minOk
      case None => true
    }
}
