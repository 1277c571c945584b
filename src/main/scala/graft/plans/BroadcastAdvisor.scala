package graft.plans

import org.apache.spark.sql.SparkSession

/** Stats-driven broadcast gating for the hand-reshaped TPC-H joins.
  *
  * The q3/q5/q10 reshape (TpchQueries) keeps the fact table un-exchanged by
  * broadcasting slim dimension complexes. Whether that reshape is RIGHT is a
  * function of data volume: at SF1 the filtered complexes are a few MB; at
  * 100× they outgrow what an executor should materialize and the correct
  * plan is the shuffle form with AQE. Round 4 baked that choice into the
  * query text as `/*+ BROADCAST */` hints; this advisor makes it a
  * planning-time decision from the same inputs a cost-based optimizer uses —
  * parquet footer statistics (row counts, per-column byte widths, min/max) —
  * so the identical query code stays optimal across scale factors.
  *
  * This mirrors the reference's own mechanism: DataFusion picks
  * CollectLeft vs Partitioned hash join by comparing its stats-estimated
  * build-side bytes against `datafusion.optimizer
  * .hash_join_single_partition_threshold` (reference:
  * datafusion/physical-optimizer/src/join_selection.rs). On a production
  * cluster the equivalent signal comes from catalog CBO stats (ANALYZE
  * TABLE); here the footer IS the catalog.
  *
  * Scale design: only FOOTERS are read (a few KB per file, driver-side at
  * planning time, memoized per file identity) — never data pages. At
  * 100 TB the footer count grows with file count, but this advisor only
  * ever inspects the DIMENSION tables (orders/customer at worst); the fact
  * table's size never enters the estimate.
  */
object BroadcastAdvisor {

  /** Above this estimated build-side size, the broadcast reshape is
    * disabled and the plan falls back to AQE's runtime join selection.
    * Default 64 MB: a broadcast build of that size is still cheap
    * cluster-wide (torrent broadcast, one copy per executor), while the
    * alternative is exchanging the entire fact table; the crossover
    * measured at SF1→SF10 sits well above it. Overridable per session for
    * tests and tuning. */
  val ThresholdConf = "spark.graft.broadcastReshape.threshold"
  val DefaultThreshold: Long = 64L * 1024 * 1024

  /** Equality-predicate selectivity when NDV is unknown (footers carry no
    * distinct counts). 0.2 is the classic System-R default; TPC-H's
    * c_mktsegment has exactly 5 values, so it is also exact here. */
  val EqSelectivity = 0.2

  /** `microsPerUnit`: for temporal columns, how many µs one stored unit
    * spans (1 for TIMESTAMP(MICROS), 1000 for MILLIS, 86.4e9 for DATE
    * days) — fixture generations have switched units between rounds, so
    * the advisor derives it from the footer's logical type annotation
    * rather than assuming one encoding. None for non-temporal columns.
    * `nulls`: the column's NULL count, None when some row group does not
    * record it. */
  case class ColStats(avgBytes: Double, minLong: Option[Long],
      maxLong: Option[Long], microsPerUnit: Option[Double] = None,
      nulls: Option[Long] = None)
  case class TableStats(rows: Long, cols: Map[String, ColStats])

  /** Keyed by the path and the identity (path, length, modification time)
    * of each of its files, so a file rewritten in place is read again. */
  private val cache = scala.collection.concurrent.TrieMap
    .empty[(String, Seq[(String, Long, Long)]), TableStats]

  /** Stats for a parquet file/dir: prefers the catalog's CBO statistics
    * (ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS over an external
    * table at this location — the numbers a cluster's metastore serves
    * without touching storage), falling back to a direct footer read. */
  def tableStats(spark: SparkSession, path: String): TableStats = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    // the data files a scan of `path` reads; a summary file repeats their row groups
    val files = graft.Tables.listFiles(p.getFileSystem(conf), p)
      .filterNot(graft.Tables.isSummary)
    val identity = files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    cache.getOrElseUpdate((path, identity),
      catalogStats(spark, path).getOrElse(footerStats(files.map(_.getPath), conf)))
  }

  /** CBO stats of a catalog table whose location is `path`, if one exists
    * and has been ANALYZEd (rowCount present). Column min/max come from
    * the external string form, interpreted per the table schema's type in
    * the same stored units the footer path uses (DATE → days,
    * TIMESTAMP → µs with microsPerUnit=1). */
  def catalogStats(spark: SparkSession, path: String): Option[TableStats] =
    scala.util.Try {
      import org.apache.spark.sql.types._
      val cat = spark.sessionState.catalog
      val want = new java.io.File(path).getCanonicalPath
      cat.listTables(cat.getCurrentDatabase)
        .flatMap(id => scala.util.Try(cat.getTableMetadata(id)).toOption)
        .find(m => m.stats.exists(_.rowCount.isDefined) &&
          m.storage.locationUri.exists(u =>
            scala.util.Try(new java.io.File(u.getPath).getCanonicalPath == want)
              .getOrElse(false)))
        .map { m =>
          val st = m.stats.get
          val types = m.schema.fields.map(f => f.name -> f.dataType).toMap
          val cols = st.colStats.flatMap { case (name, cs) =>
            types.get(name).map { dt =>
              def asLong(s: String): Option[Long] = scala.util.Try(dt match {
                case ByteType | ShortType | IntegerType | LongType => s.toLong
                case DateType => java.time.LocalDate.parse(s).toEpochDay
                case _: TimestampType | TimestampNTZType =>
                  java.sql.Timestamp.valueOf(s).getTime * 1000L
                case _ => throw new IllegalArgumentException("non-long")
              }).toOption
              val unit = dt match {
                case DateType => Some(86400.0 * 1000000.0)
                case _: TimestampType | TimestampNTZType => Some(1.0)
                case _ => None
              }
              val width = cs.avgLen.map(_.toDouble).getOrElse(8.0)
              name -> ColStats(width, cs.min.flatMap(asLong),
                cs.max.flatMap(asLong), unit, cs.nullCount.map(_.toLong))
            }
          }
          TableStats(st.rowCount.get.toLong, cols.toMap)
        }
    }.toOption.flatten

  /** Footer-only stats for a parquet file/dir's files: row count,
    * per-column average uncompressed width, INT64 min/max (timestamps
    * included), NULL count. */
  private def footerStats(files: Seq[org.apache.hadoop.fs.Path],
      conf: org.apache.hadoop.conf.Configuration): TableStats =
    {
      import scala.jdk.CollectionConverters._
      var rows = 0L
      val colBytes = scala.collection.mutable.Map.empty[String, Long]
      val colMin = scala.collection.mutable.Map.empty[String, Long]
      val colMax = scala.collection.mutable.Map.empty[String, Long]
      val colUnit = scala.collection.mutable.Map.empty[String, Double]
      val colNulls = scala.collection.mutable.Map.empty[String, Option[Long]]
      files.foreach { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try reader.getFooter.getBlocks.asScala.foreach { block =>
          rows += block.getRowCount
          block.getColumns.asScala.foreach { cc =>
            val name = cc.getPath.toDotString
            colBytes(name) = colBytes.getOrElse(name, 0L) + cc.getTotalUncompressedSize
            val s = cc.getStatistics
            import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
            import org.apache.parquet.schema.LogicalTypeAnnotation
            val ptype = cc.getPrimitiveType
            val longStats: Option[(Long, Long)] =
              if (s == null || !s.hasNonNullValue) None
              else ptype.getPrimitiveTypeName match {
                case PrimitiveTypeName.INT64 => Some((
                  s.genericGetMin.asInstanceOf[java.lang.Long].longValue,
                  s.genericGetMax.asInstanceOf[java.lang.Long].longValue))
                case PrimitiveTypeName.INT32 => Some((
                  s.genericGetMin.asInstanceOf[java.lang.Integer].longValue,
                  s.genericGetMax.asInstanceOf[java.lang.Integer].longValue))
                case _ => None
              }
            longStats.foreach { case (mn, mx) =>
              colMin(name) = colMin.get(name).fold(mn)(math.min(_, mn))
              colMax(name) = colMax.get(name).fold(mx)(math.max(_, mx))
            }
            val chunkNulls =
              if (s != null && s.isNumNullsSet) Some(s.getNumNulls) else None
            colNulls(name) = colNulls.getOrElse(name, Some(0L)).zip(chunkNulls)
              .map { case (a, b) => a + b }
            ptype.getLogicalTypeAnnotation match {
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                colUnit(name) = t.getUnit match {
                  case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000.0
                  case LogicalTypeAnnotation.TimeUnit.MICROS => 1.0
                  case LogicalTypeAnnotation.TimeUnit.NANOS => 0.001
                }
              case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
                colUnit(name) = 86400.0 * 1000000.0
              case _ =>
            }
          }
        } finally reader.close()
      }
      TableStats(rows, colBytes.keys.map { n =>
        n -> ColStats(if (rows == 0) 0.0 else colBytes(n).toDouble / rows,
          colMin.get(n), colMax.get(n), colUnit.get(n), colNulls(n))
      }.toMap)
    }

  /** Range selectivity of `lo <= col < hi` with bounds in the COLUMN's own
    * stored units (see [[dateBound]]), by linear interpolation over the
    * footer min/max — the same uniform assumption DataFusion's
    * pruning/estimation makes. Unknown stats → 1.0 (never under-estimates
    * the build side). */
  def rangeSelectivity(ts: TableStats, col: String,
      lo: Option[Long], hi: Option[Long]): Double =
    ts.cols.get(col).flatMap(c => c.minLong.zip(c.maxLong)).map {
      case (mn, mx) if mx > mn =>
        val l = lo.getOrElse(mn).max(mn)
        val h = hi.getOrElse(mx + 1).min(mx + 1)
        math.max(0.0, math.min(1.0, (h - l).toDouble / (mx + 1 - mn)))
      case _ => 1.0
    }.getOrElse(1.0)

  /** A calendar-date bound expressed in `col`'s stored units (days for
    * DATE columns, ms/µs/ns for the timestamp encodings — fixture
    * generations have used several). Falls back to epoch-ms when the
    * footer carries no temporal annotation. */
  def dateBound(ts: TableStats, col: String, date: String): Long = {
    val micros = epochMs(date) * 1000.0
    val perUnit = ts.cols.get(col).flatMap(_.microsPerUnit).getOrElse(1000.0)
    (micros / perUnit).toLong
  }

  /** Estimated in-memory bytes of `rows` rows projecting `cols`
    * (uncompressed footer widths + per-row object overhead). */
  def estimateBytes(ts: TableStats, rows: Double, cols: Seq[String]): Long = {
    val width = cols.map(c => ts.cols.get(c).map(_.avgBytes).getOrElse(8.0)).sum
    (rows * (width + 16.0)).toLong
  }

  def threshold(spark: SparkSession): Long =
    spark.conf.getOption(ThresholdConf).map(_.toLong).getOrElse(DefaultThreshold)

  def shouldBroadcast(spark: SparkSession, estBytes: Long): Boolean =
    estBytes <= threshold(spark)

  /** Gate for a SHUFFLE_HASH hint on a big-big join: the hash build is
    * per-shuffle-partition, so it is safe (and beats SMJ's two sorts)
    * exactly when estBytes / shufflePartitions fits comfortably in an
    * executor's task memory. Past that, plain AQE text (SMJ, spillable)
    * is the 100×-scale answer. */
  def shouldShuffleHash(spark: SparkSession, estBytes: Long): Boolean = {
    val parts = spark.conf.getOption("spark.sql.shuffle.partitions")
      .flatMap(p => scala.util.Try(p.toInt).toOption).getOrElse(200).max(1)
    estBytes / parts <= threshold(spark)
  }

  private def epochMs(date: String): Long =
    java.time.LocalDate.parse(date).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.toEpochMilli

  /** q3: cmplx = σ(mktsegment) customer ⋈ σ(date<hi) orders, projected to
    * (o_orderkey, o_orderdate, o_orderpriority). */
  def q3CmplxBytes(spark: SparkSession, dir: String): Long = {
    val o = tableStats(spark, s"$dir/orders.parquet")
    val rows = o.rows *
      rangeSelectivity(o, "o_orderdate", None, Some(dateBound(o, "o_orderdate", "1998-03-15"))) *
      EqSelectivity
    estimateBytes(o, rows, Seq("o_orderkey", "o_orderdate", "o_orderpriority"))
  }

  /** q5: ao = σ(window) orders ⋈ customer ⋈ (nation ⋈ σ(region)), projected
    * to (o_orderkey, c_nationkey, n_name). Region membership selectivity =
    * 1/|region| from the region footer row count (uniform nations/region). */
  def q5AoBytes(spark: SparkSession, dir: String): Long = {
    val o = tableStats(spark, s"$dir/orders.parquet")
    val r = tableStats(spark, s"$dir/region.parquet")
    val regionSel = if (r.rows > 0) 1.0 / r.rows else 1.0
    val rows = o.rows *
      rangeSelectivity(o, "o_orderdate",
        Some(dateBound(o, "o_orderdate", "1996-01-01")),
        Some(dateBound(o, "o_orderdate", "1998-01-01"))) * regionSel
    estimateBytes(o, rows, Seq("o_orderkey", "o_custkey")) // nationkey+name ≈ key widths
  }

  /** q10: pc = per-customer revenue over the 3-month window — grouped rows
    * are bounded by the window's order count; o2 is the window itself. The
    * larger of the two gates the reshape. */
  def q10PcBytes(spark: SparkSession, dir: String): Long = {
    val o = tableStats(spark, s"$dir/orders.parquet")
    val windowRows = o.rows * rangeSelectivity(o, "o_orderdate",
      Some(dateBound(o, "o_orderdate", "1996-10-01")),
      Some(dateBound(o, "o_orderdate", "1997-01-01")))
    estimateBytes(o, windowRows, Seq("o_orderkey", "o_custkey"))
  }

  /** q2: p = σ(p_size = k ∧ p_type LIKE …) part projected to its key.
    * p_size equality gets range selectivity from the footer's min/max
    * (p_size is dense-integer, so (1 value)/(max−min+1) is exact); the
    * LIKE's extra cut is ignored — conservative (over-estimates). */
  def q2PartBytes(spark: SparkSession, dir: String): Long = {
    val p = tableStats(spark, s"$dir/part.parquet")
    val sizeSel = p.cols.get("p_size")
      .flatMap(c => c.minLong.zip(c.maxLong))
      .collect { case (mn, mx) if mx >= mn => 1.0 / (mx - mn + 1) }
      .getOrElse(EqSelectivity)
    estimateBytes(p, p.rows * sizeSel, Seq("p_partkey"))
  }

  /** q2/q11: the one-nation / one-region supplier complex — supplier rows ×
    * the region (or nation) membership fraction from the dim footer row
    * counts, projected to the join key + output columns. */
  def supplierComplexBytes(spark: SparkSession, dir: String,
      memberTable: String, cols: Seq[String]): Long = {
    val s = tableStats(spark, s"$dir/supplier.parquet")
    val m = tableStats(spark, s"$dir/$memberTable.parquet")
    val sel = if (m.rows > 0) 1.0 / m.rows else 1.0
    estimateBytes(s, s.rows * sel, cols)
  }
}
