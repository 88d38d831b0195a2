package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute,
  AttributeReference, BoundReference, Cast, EqualNullSafe, EqualTo,
  Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan,
  LessThanOrEqual, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.LogTable
import graft.operators.LogTable.{FileStat, Manifest, NumRange, ZonePred}

/** A manifest-backed [[FileIndex]] for [[LogTable]] snapshots — the
  * Catalyst hook that makes zone-map data skipping serve ORDINARY
  * DataFrame code (r12 directive #4, closing r12 "What's missing" #3):
  * `LogTable.read(spark, root).filter($"v".between(a, b))` prunes files
  * through the manifest with no side API. This is the Delta
  * TahoeFileIndex architecture re-derived on the public extension
  * point: `FileSourceScanExec` hands every scan's pushed-down
  * `partitionFilters` and `dataFilters` to
  * [[FileIndex.listFiles]], and this index answers from PURE MANIFEST
  * METADATA —
  *
  *  - partition filters evaluate against the partition-dir values
  *    (interpreted predicate over the parsed dir names — the
  *    PartitioningAwareFileIndex pruning shape), and
  *  - data filters on declared stats columns translate to
  *    [[ZonePred]] bounding boxes ([[ZoneFilters.extract]]) that prune
  *    via each file's zone map,
  *
  * so skipped files are never listed, opened, or footer-read: zero
  * filesystem calls at plan time (sizes ride the manifest), which is
  * the property that matters at 10⁵–10⁶ files. Unsupported filter
  * shapes simply prune nothing — the scan stays a SUPERSET and the
  * row-level filter above the scan keeps exact semantics (zone maps
  * are necessary, not sufficient, as everywhere else).
  */
final class LogTableFileIndex(
    spark: SparkSession,
    val tableRoot: String,
    val manifest: Manifest,
    override val partitionSchema: StructType,
    val dvPending: Boolean = false) extends FileIndex {

  private def m: Manifest = manifest

  /** The snapshot's deletion-vector ids (what [[dvPending]] defers to
    * [[LogTableDvRule]]) and its partition-path depth. */
  def dvIds: Seq[String] =
    m.parts.values.flatten.flatMap(_.dv).toSeq.distinct
  def levels: Int = partitionSchema.length

  /** This index with the DV debt discharged (the rule wraps the scan
    * in the anti-join and plans THIS index underneath). */
  def dvApplied: LogTableFileIndex =
    new LogTableFileIndex(spark, tableRoot, m, partitionSchema,
      dvPending = false)

  private val rootPath = new Path(tableRoot)

  /** Parsed (partition dir, partition-value row, live files) — one
    * value per partition level (`k1=v1/k2=v2` dirs carry both), with
    * string values path-unescaped exactly as Spark's writer escaped
    * them. */
  private val dirs: Seq[(String, InternalRow, Seq[FileStat])] =
    m.parts.toSeq.sortBy(_._1).map { case (p, fl) =>
      val segs = if (p.isEmpty) Array.empty[String] else p.split('/')
      require(segs.length == partitionSchema.length,
        s"LogTableFileIndex: partition dir '$p' has ${segs.length} " +
          s"levels, schema declares ${partitionSchema.length}")
      val vals: Array[Any] = segs.zip(partitionSchema.fields).map {
        case (seg, f) =>
          val raw = org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils
            .unescapePathName(seg.substring(seg.indexOf('=') + 1))
          if (raw == "__HIVE_DEFAULT_PARTITION__") null
          else f.dataType match {
            case DateType =>
              java.time.LocalDate.parse(raw).toEpochDay.toInt
            case StringType => UTF8String.fromString(raw)
            case IntegerType => raw.toInt
            case LongType => raw.toLong
            case other => sys.error("LogTableFileIndex: unsupported " +
              s"partition column type ${other.simpleString}")
          }
      }
      (p, InternalRow(vals: _*), fl)
    }

  override def rootPaths: Seq[Path] = Seq(rootPath)

  override def refresh(): Unit = () // manifests are immutable

  override def sizeInBytes: Long =
    dirs.flatMap(_._3).map(_.bytes).sum

  override def inputFiles: Array[String] =
    dirs.flatMap { case (p, _, fl) =>
      fl.map(f => s"$tableRoot/${LogTable.tailKey(p, f.file)}") }.toArray

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    val partPruned =
      if (partitionFilters.isEmpty) dirs
      else {
        // the PartitioningAwareFileIndex shape: bind the conjunction to
        // the one-field partition row and evaluate it interpreted
        val bound = partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = partitionSchema.indexWhere(_.name == a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        }
        val pred = Predicate.createInterpreted(bound)
        pred.initialize(0)
        dirs.filter { case (_, row, _) => pred.eval(row) }
      }
    val preds = ZoneFilters.extract(dataFilters, m.statsCols.toSet)
    // equality probes against the declared bloom columns — the
    // scattered-id point lookup zone maps can't prune. Blob reads
    // happen only for files that SURVIVE zone pruning, only when a
    // probe exists, and only once per sidecar blob (cached).
    val bloomProbes =
      if (m.bloomCols.isEmpty ||
          !spark.conf.get("spark.graft.logtable.bloomPrune", "true")
            .toBoolean) Map.empty[String, Seq[Set[Any]]]
      else BloomProbes.extract(dataFilters, m.bloomCols.toSet)
    partPruned.map { case (p, row, fl) =>
      val admitted0 =
        if (preds.isEmpty) fl
        else fl.filter(f => preds.forall(LogTable.zoneAdmits(f, _)))
      val admitted =
        if (bloomProbes.isEmpty) admitted0
        else admitted0.filter(f => LogTable.bloomAdmits(spark,
          tableRoot, LogTable.tailKey(p, f.file), f, bloomProbes))
      val statuses = admitted.map { f =>
        new FileStatus(f.bytes, false, 1, 128L * 1024 * 1024, 0L,
          new Path(s"$tableRoot/${LogTable.tailKey(p, f.file)}"))
      }.toArray
      PartitionDirectory(row, statuses)
    }.filter(_.files.nonEmpty)
  }
}

/** Pushed-filter → bloom-probe translation: conjunctive equality
  * shapes (`c = lit`, `lit = c`, `c <=> lit`, `c IN (lits)`, the
  * optimizer's `InSet`) against a declared bloom column become
  * per-column OR-sets of candidate values; every other shape (an OR,
  * a partially-literal IN, a cast column, a null literal) contributes
  * NOTHING — dropping values from an OR-set could wrongly prune a
  * file holding one of the dropped values, so extraction is
  * all-or-nothing per conjunct (superset contract, as everywhere).
  * Values are canonicalized to what [[LogTable.bloomAdmits]] hashes:
  * `java.lang.Long` for integral columns, `String` for string columns
  * (Catalyst string literals are UTF8String). */
private[graft] object BloomProbes {

  private def probeValue(l: Literal): Option[Any] =
    if (l.value == null) None
    else l.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(java.lang.Long.valueOf(
          l.value.asInstanceOf[Number].longValue()))
      case StringType => Some(l.value.toString)
      case _ => None
    }

  def extract(filters: Seq[Expression], bloomCols: Set[String])
      : Map[String, Seq[Set[Any]]] = {
    val probes =
      scala.collection.mutable.ArrayBuffer[(String, Set[Any])]()
    def attr(e: Expression): Option[Attribute] = e match {
      case a: Attribute if bloomCols.contains(a.name) => Some(a)
      case _ => None
    }
    def add(a: Expression, vs: Seq[Option[Any]]): Unit =
      attr(a).foreach { at =>
        if (vs.nonEmpty && vs.forall(_.isDefined))
          probes += (at.name -> vs.flatten.toSet)
      }
    def walk(e: Expression): Unit = e match {
      case And(x, y) => walk(x); walk(y)
      case EqualTo(a, l: Literal) => add(a, Seq(probeValue(l)))
      case EqualTo(l: Literal, a) => add(a, Seq(probeValue(l)))
      case EqualNullSafe(a, l: Literal) if l.value != null =>
        add(a, Seq(probeValue(l)))
      case EqualNullSafe(l: Literal, a) if l.value != null =>
        add(a, Seq(probeValue(l)))
      case In(a, vs) if vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Literal]) =>
        add(a, vs.map(v => probeValue(v.asInstanceOf[Literal])))
      case ins @ InSet(a, hset) if hset.nonEmpty =>
        add(a, hset.toSeq.map(v =>
          probeValue(Literal(v, ins.child.dataType))))
      case _ => () // unsupported shape: prunes nothing
    }
    filters.foreach(walk)
    probes.groupBy(_._1).map { case (c, ps) =>
      c -> ps.map(_._2).toSeq
    }
  }
}

/** Pushed-filter → [[ZonePred]] translation (shared by the index and
  * its spec): supported comparisons of a stats-column attribute against
  * a foldable literal tighten that column's bounding box; anything else
  * is ignored (prunes nothing — superset contract). Strict comparisons
  * use the literal as an INCLUSIVE zone bound — safe (a superset),
  * and zone bounds are closed anyway. */
private[graft] object ZoneFilters {

  /** Render a literal as the zone-domain value: numeric → double,
    * DATE → ISO string (lexical = temporal), STRING → raw. None =
    * untranslatable (null, an unsupported type, or a NaN — Spark
    * orders NaN ABOVE every value, so `x <= NaN` is true for all
    * finite x and a NaN rendered as a range endpoint would make
    * every zone test false, pruning files whose rows all match
    * (ADVICE r14). A NaN bound is simply unbounded here; the
    * superset contract keeps the row filter exact). The same
    * rejection makes an IN list containing NaN drop its whole
    * envelope (the forall-defined guard below), rather than letting
    * Seq.max pick NaN as hi. */
  private def zoneValue(l: Literal): Option[Either[Double, String]] =
    if (l.value == null) None
    else l.dataType match {
      case DateType =>
        Some(Right(java.time.LocalDate
          .ofEpochDay(l.value.asInstanceOf[Int].toLong).toString))
      case StringType => Some(Right(l.value.toString))
      case _: DecimalType =>
        Some(Left(l.value.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toDouble))
      case _: NumericType =>
        Some(Left(l.value.asInstanceOf[Number].doubleValue()))
          .filterNot(_.left.exists(_.isNaN))
      case _ => None
    }

  /** [[zoneValue]] for a STRICT comparison: discrete domains tighten by
    * one step (`date > D` ≡ `date ≥ D+1 day`; integral likewise), so a
    * boundary file whose zone ENDS at the excluded literal is pruned —
    * exactly what a build-time `NumRange`/`StrRange` probe achieves.
    * Continuous domains (double, decimal, string) fall back to the
    * inclusive literal — still a superset, just one candidate looser. */
  private def zoneValueStrict(l: Literal, up: Boolean)
      : Option[Either[Double, String]] =
    if (l.value == null) None
    else l.dataType match {
      case DateType =>
        Some(Right(java.time.LocalDate
          .ofEpochDay(l.value.asInstanceOf[Int].toLong +
            (if (up) 1L else -1L)).toString))
      case ByteType | ShortType | IntegerType | LongType =>
        val v = l.value.asInstanceOf[Number].longValue()
        if (v == Long.MaxValue || v == Long.MinValue) zoneValue(l)
        else Some(Left((v + (if (up) 1L else -1L)).toDouble))
      case _ => zoneValue(l)
    }

  /** (column, lower?, upper?) from one comparison, attr side first.
    * `strict` tightens discrete-domain literals by one step. */
  private def bound(a: Attribute, l: Literal, isLower: Boolean,
                    stats: Set[String], strict: Boolean = false)
      : Option[(String, Option[Either[Double, String]],
                Option[Either[Double, String]])] =
    if (!stats.contains(a.name)) None
    else (if (strict) zoneValueStrict(l, up = isLower) else zoneValue(l))
      .map(v =>
        if (isLower) (a.name, Some(v), None) else (a.name, None, Some(v)))

  /** Strip a no-op cast the analyzer may leave around the attribute
    * (e.g. int literal vs long column resolves the LITERAL, but a
    * cast on the attr side would hide it). Only identity-safe
    * widening casts are seen through — the zone domain (double /
    * lexical) absorbs them. */
  private def attrOf(e: Expression): Option[Attribute] = e match {
    case a: Attribute => Some(a)
    case Cast(a: Attribute, dt, _, _)
      if dt.isInstanceOf[NumericType] &&
        a.dataType.isInstanceOf[NumericType] => Some(a)
    case _ => None
  }

  def extract(filters: Seq[Expression], stats: Set[String])
      : Seq[ZonePred] = {
    val bounds = scala.collection.mutable.ArrayBuffer[
      (String, Option[Either[Double, String]],
        Option[Either[Double, String]])]()
    def walk(e: Expression): Unit = e match {
      case And(x, y) => walk(x); walk(y)
      case GreaterThanOrEqual(a, l: Literal) =>
        attrOf(a).flatMap(bound(_, l, isLower = true, stats))
          .foreach(bounds += _)
      case GreaterThan(a, l: Literal) =>
        attrOf(a).flatMap(bound(_, l, isLower = true, stats,
          strict = true)).foreach(bounds += _)
      case LessThanOrEqual(a, l: Literal) =>
        attrOf(a).flatMap(bound(_, l, isLower = false, stats))
          .foreach(bounds += _)
      case LessThan(a, l: Literal) =>
        attrOf(a).flatMap(bound(_, l, isLower = false, stats,
          strict = true)).foreach(bounds += _)
      case GreaterThanOrEqual(l: Literal, a) =>
        attrOf(a).flatMap(bound(_, l, isLower = false, stats))
          .foreach(bounds += _)
      case GreaterThan(l: Literal, a) =>
        attrOf(a).flatMap(bound(_, l, isLower = false, stats,
          strict = true)).foreach(bounds += _)
      case LessThanOrEqual(l: Literal, a) =>
        attrOf(a).flatMap(bound(_, l, isLower = true, stats))
          .foreach(bounds += _)
      case LessThan(l: Literal, a) =>
        attrOf(a).flatMap(bound(_, l, isLower = true, stats,
          strict = true)).foreach(bounds += _)
      case EqualTo(a, l: Literal) =>
        attrOf(a).flatMap(bound(_, l, isLower = true, stats))
          .foreach(bounds += _)
        attrOf(a).flatMap(bound(_, l, isLower = false, stats))
          .foreach(bounds += _)
      case EqualTo(l: Literal, a) =>
        attrOf(a).flatMap(bound(_, l, isLower = true, stats))
          .foreach(bounds += _)
        attrOf(a).flatMap(bound(_, l, isLower = false, stats))
          .foreach(bounds += _)
      case In(a, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        // the IN-list's [min, max] envelope is a valid superset bound
        attrOf(a).foreach { attr =>
          val rendered = vs.map(v => zoneValue(v.asInstanceOf[Literal]))
          if (rendered.forall(_.isDefined) && stats.contains(attr.name)) {
            val ds = rendered.flatten.collect { case Left(d) => d }
            val ss = rendered.flatten.collect { case Right(s) => s }
            if (ds.size == rendered.size)
              bounds += ((attr.name, Some(Left(ds.min)),
                Some(Left(ds.max))))
            else if (ss.size == rendered.size)
              bounds += ((attr.name, Some(Right(ss.min)),
                Some(Right(ss.max))))
          }
        }
      case _ => () // unsupported shape: prunes nothing
    }
    filters.foreach(walk)
    // intersect per column: tightest lower and upper of matching kind
    bounds.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (c, bs) =>
      val nlo = bs.flatMap(_._2).collect { case Left(d) => d }
      val nhi = bs.flatMap(_._3).collect { case Left(d) => d }
      val slo = bs.flatMap(_._2).collect { case Right(s) => s }
      val shi = bs.flatMap(_._3).collect { case Right(s) => s }
      val num: Option[ZonePred] =
        if (nlo.nonEmpty || nhi.nonEmpty)
          Some(NumRange(c, nlo.foldLeft(Double.NegativeInfinity)(math.max),
            nhi.foldLeft(Double.PositiveInfinity)(math.min)))
        else None
      // absent sides stay ABSENT (Option) \u2014 a sentinel max-string
      // upper bound wrongly pruned files whose stored lo compared
      // lexically above it (ADVICE r13)
      val str: Option[ZonePred] =
        if (slo.nonEmpty || shi.nonEmpty)
          Some(LogTable.StrBounds(c,
            if (slo.isEmpty) None else Some(slo.max),
            if (shi.isEmpty) None else Some(shi.min)))
        else None
      num.toSeq ++ str.toSeq
    }
  }
}

/** The one relation builder of every LogTable scan: [[LogTable.read]],
  * the internal DML and change-feed scans, the `logtable()` TVF and the
  * `logtable` DataSource provider all plan a `HadoopFsRelation` whose
  * location is a [[LogTableFileIndex]] over a manifest (whole, or
  * restricted to the files a scan needs), so no LogTable read lists
  * the filesystem.
  *
  * `scanPreds` (optional) pre-prunes the SNAPSHOT by zone maps before
  * the index is even built — the live set AND its deletion vectors
  * shrink together: vectors are per-file, so restricting the planned
  * files restricts the vectors SAFELY (no row from an unadmitted file
  * can appear, so none can resurrect).
  */
object LogTableScan {

  /** The zone-admitted subset of `m`'s live set (shared with the DV
    * scoping — package-visible so the scoping contract is
    * spec-testable). */
  private[graft] def admittedParts(m: Manifest, preds: Seq[ZonePred])
      : Map[String, Seq[FileStat]] =
    if (preds.isEmpty) m.parts
    else m.parts.map { case (p, fl) =>
      p -> fl.filter(f => preds.forall(LogTable.zoneAdmits(f, _)))
    }.filter(_._2.nonEmpty)

  /** The recorded schema of `m` — the version's contract: files
    * written before a column was added null-fill it. */
  private[graft] def schemaOf(tableRoot: String, m: Manifest): StructType =
    StructType.fromDDL(m.schemaDdl.getOrElse(
      sys.error(s"LogTable.read: version ${m.version} of $tableRoot " +
        "records no schema — commit with a current LogTable build")))

  /** The snapshot at `asOf` (default: latest) as (recorded schema,
    * manifest whose live set is restricted to the files `scanPreds`'
    * zones admit). The live set is empty for an empty version or when
    * every zone missed. */
  private[graft] def snapshot(spark: SparkSession, tableRoot: String,
      asOf: Option[Long], scanPreds: Seq[ZonePred])
      : (StructType, Manifest) = {
    val v = asOf.getOrElse(
      graft.operators.TableLog.currentVersion(spark, tableRoot))
    require(v > 0L, s"LogTable.read: $tableRoot has no committed version")
    val m = LogTable.manifest(spark, tableRoot, v)
    scanPreds.foreach { p =>
      require(m.statsCols.contains(p.column),
        s"LogTable.read: version $v records zone maps for " +
          s"[${m.statsCols.mkString(",")}], not ${p.column}")
    }
    (schemaOf(tableRoot, m), m.copy(parts = admittedParts(m, scanPreds)))
  }

  /** The file relation over `m`'s live set under `schema`. A uniform
    * `k1=v1[/k2=v2...]` layout is the LogTable contract — the
    * manifest's own dir keys declare the partition columns (validated
    * uniform by [[LogTable.partColsOfManifest]]); root files (an
    * unpartitioned table) and an empty live set declare none, so every
    * column is a data column. `dvPending = true`
    * defers the deletion-vector anti-join to
    * [[graft.plans.LogTableDvRule]] (the provider path — a BaseRelation
    * cannot carry the join itself). */
  private[graft] def relation(spark: SparkSession, tableRoot: String,
      schema: StructType, m: Manifest, dvPending: Boolean)
      : HadoopFsRelation = {
    val partCols = LogTable.partColsOfManifest(m)
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"LogTable.read: partition column '$c' missing " +
        "from the recorded schema — corrupt manifest"))
    val partSchema = StructType(partCols.map(schema(_)))
    val dataSchema = StructType(
      schema.filterNot(f => partCols.contains(f.name)))
    val index = new LogTableFileIndex(spark, tableRoot, m, partSchema,
      dvPending = dvPending)
    HadoopFsRelation(index, partSchema, dataSchema, None,
      new ParquetFileFormat, Map("basePath" -> tableRoot))(spark)
  }
}
