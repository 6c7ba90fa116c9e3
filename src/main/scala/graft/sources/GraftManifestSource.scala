package graft.sources

import java.util.{Map => JMap}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters,
  SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan,
  GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** The READ side of the [[GraftCommitSink]] commit protocol — a DSv2
  * source that reads a sink directory THROUGH its `_GRAFT_COMMIT`
  * manifest
  * (`spark.read.format("graft.sources.GraftManifestSource")
  *   .schema(s).option("path", dir)`; graft's own code reads through
  * [[GraftTable.read]]).
  *
  * This is the contract the sink's manifest-last publish exists for: a
  * glob over `part-*` could observe a torn generation (a crashed
  * overwrite legitimately leaves BOTH generations' files on disk — the
  * sink's crash-safety design), while the manifest reader sees exactly
  * one committed generation or fails closed:
  *
  *  - the DRIVER reads the manifest once and plans ONE InputPartition
  *    per listed part file (at 1000-executor scale, splits = files;
  *    nothing else in the directory is ever opened);
  *  - a listed-but-missing file is a clear error, never a silent skip;
  *  - each reader asserts its file's row count against the manifest's
  *    per-file count — a truncated or appended-to part fails loudly;
  *  - rows parse with the sink's exact TSV conventions (long / int /
  *    double / string, `\N` = NULL, [[GraftTsv]] escaping for
  *    backslash/tab/newline/CR in strings), so sink→source round-trips
  *    are lossless including nulls and delimiter-bearing values;
  *  - column pruning pushes down (`SupportsPushDownRequiredColumns`):
  *    an un-requested column is never converted, only skipped past;
  *  - the job's Hadoop conf threads to executors via
  *    [[SerializableHadoopConf]] — the same single-filesystem rule the
  *    sink's writers follow.
  *
  * The schema is caller-supplied (the TSV carries no header — like any
  * schema-on-read export format, the contract travels out of band).
  *
  * TIME TRAVEL (round 12): `option("generation", g)` reads the table AS
  * OF generation g through the sink's immutable per-generation manifest
  * `_GRAFT_COMMIT.gGGGG` (the commit log the sink publishes alongside
  * the current pointer). Every historical generation of an append-mode
  * table is fully readable; a generation vacuumed by a later TRUNCATE
  * fails loudly on its missing parts (the fail-closed contract, never a
  * silently thinner result). No option = the current manifest. */
class GraftManifestSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "GraftManifestSource needs an explicit reader schema (.schema(...)): " +
        "the sink's TSV carries no header")
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "GraftManifestSource requires option 'path'"))
    val gen = Option(properties.get("generation")).map { g =>
      val v = try g.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"option 'generation' must be a non-negative integer, got '$g'")
      }
      require(v >= 0L, s"option 'generation' must be >= 0, got $v")
      v
    }
    // entry-subset scan (round 14, the merge/delete path): restrict the
    // scan to the named committed entries — the copy-on-write rewrite
    // reads ONLY the affected parts, never the whole table. Still
    // manifest-checked: a name not in the manifest fails loudly.
    val files = Option(properties.get("files"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    new GraftManifestTable(path, schema, gen, files)
  }
}

class GraftManifestTable(path: String, readSchema: StructType,
    generation: Option[Long], files: Option[Set[String]] = None)
  extends Table with SupportsRead {
  override def name(): String = s"graft_manifest($path)"
  override def schema(): StructType = readSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftManifestScanBuilder(path, readSchema, generation, files)
}

class GraftManifestScanBuilder(path: String, full: StructType,
    generation: Option[Long], files: Option[Set[String]] = None)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters {
  private var required: StructType = full
  private var accepted: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  /** ZONE-MAP pushdown (round 13): the sink's manifest records per-part
    * min/max for numeric columns, and the null-rejecting comparison
    * filters can exclude whole files from those bounds BEFORE any task
    * launches — the Iceberg/Delta data-skipping shape, at manifest
    * granularity. Every filter is returned as a residual (the zone map
    * only SKIPS files; surviving files still evaluate the predicate
    * row-wise), so correctness never depends on the skip — `accepted`
    * is what `.explain`'s PushedFilters reports and what
    * planInputPartitions prunes with. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.filter(f =>
      GraftZoneMap.compile(f, full).isDefined)
    filters
  }
  override def pushedFilters(): Array[Filter] = accepted
  override def build(): Scan =
    new GraftManifestScan(path, full, required, generation, accepted, files)
}

/** Zone-map skip evaluation — the reader side of
  * [[GraftCommitMeta.parseStats]]. Numeric comparisons run in
  * BigDecimal over the sink's shortest-repr value printing (which
  * round-trips doubles uniquely), so a full-range BIGINT bound can
  * never round into a WRONG skip — the one failure mode data skipping
  * must not have. String comparisons (round 14) run in unsigned UTF8
  * byte order — exactly the order Spark's string comparisons and the
  * writer's bound tracking use — against the truncated inclusive-lo /
  * incremented exclusive-hi prefixes. IsNull/IsNotNull (round 14) skip
  * from the per-column null counts. Anything unparseable or unsupported
  * simply never skips. */
private[sources] object GraftZoneMap {
  /** A compiled skippable predicate over one column. */
  sealed trait Pred { def i: Int }
  case class NumCmp(i: Int, op: String, v: BigDecimal) extends Pred
  case class StrCmp(i: Int, op: String, v: Array[Byte]) extends Pred
  case class NullTest(i: Int, isNull: Boolean) extends Pred

  /** Compile a pushable filter; None = the zone map cannot act on it. */
  def compile(f: Filter, full: StructType): Option[Pred] =
    f match {
      case EqualTo(a, v) => comp(a, "=", v, full)
      case GreaterThan(a, v) => comp(a, ">", v, full)
      case GreaterThanOrEqual(a, v) => comp(a, ">=", v, full)
      case LessThan(a, v) => comp(a, "<", v, full)
      case LessThanOrEqual(a, v) => comp(a, "<=", v, full)
      case IsNotNull(a) => idx(a, full).map(NullTest(_, isNull = false))
      case org.apache.spark.sql.sources.IsNull(a) =>
        idx(a, full).map(NullTest(_, isNull = true))
      case _ => None
    }

  private def comp(attr: String, op: String, v: Any,
      full: StructType): Option[Pred] =
    idx(attr, full).flatMap { i =>
      full.fields(i).dataType match {
        case StringType => v match {
          case s: String =>
            Some(StrCmp(i, op, s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          case u: org.apache.spark.unsafe.types.UTF8String =>
            Some(StrCmp(i, op, u.getBytes))
          case _ => None
        }
        case _ => lit(v).map(NumCmp(i, op, _))
      }
    }

  private def idx(attr: String, full: StructType): Option[Int] = {
    val i = full.fieldNames.indexWhere(_.equalsIgnoreCase(attr))
    if (i < 0) None
    else full.fields(i).dataType match {
      case LongType | IntegerType | DoubleType | StringType => Some(i)
      case _ => None
    }
  }

  private def lit(v: Any): Option[BigDecimal] = v match {
    case l: java.lang.Long => Some(BigDecimal(l))
    case i: java.lang.Integer => Some(BigDecimal(i.intValue))
    case s: java.lang.Short => Some(BigDecimal(s.intValue))
    case b: java.lang.Byte => Some(BigDecimal(b.intValue))
    case d: java.lang.Double =>
      if (java.lang.Double.isFinite(d)) Some(BigDecimal(d.toString)) else None
    case f: java.lang.Float =>
      if (java.lang.Float.isFinite(f)) Some(BigDecimal(f.toString)) else None
    case _ => None
  }

  /** Unsigned lexicographic byte compare — UTF8String binary order. */
  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** true = the entry's file provably contains NO row satisfying the
    * compiled predicate. A column past the file's committed width is
    * all NULL there, so every null-rejecting shape (and IsNotNull)
    * excludes the whole file — while IS NULL trivially matches and must
    * KEEP it; otherwise only recorded stats decide. */
  def skips(c: Pred, entry: GraftManEntry,
      stats: Map[Int, GraftColStat]): Boolean = {
    if (entry.ncols >= 0 && c.i >= entry.ncols)
      return (c match { case NullTest(_, isNull) => !isNull; case _ => true })
    val st = stats.get(c.i)
    c match {
      case NullTest(_, isNull) =>
        st.flatMap(_.nulls) match {
          case Some(0L) if isNull => true // no NULLs ⇒ IS NULL matches nothing
          case Some(n) if !isNull && n == entry.rows => true // all NULL
          case _ => false
        }
      case NumCmp(_, op, v) =>
        st.flatMap(_.num) match {
          case None => false
          case Some((loS, hiS)) =>
            val lo = BigDecimal(loS)
            val hi = BigDecimal(hiS)
            op match {
              case "=" => v < lo || v > hi
              case ">" => hi <= v
              case ">=" => hi < v
              case "<" => lo >= v
              case "<=" => lo > v
              case _ => false
            }
        }
      case StrCmp(_, op, v) =>
        st.flatMap(_.str) match {
          case None => false
          case Some((lo, hiOpt)) =>
            // lo is INCLUSIVE (a truncated prefix ≤ every value), hi is
            // EXCLUSIVE (every value sorts strictly below it); absent
            // hi = unbounded above — each side proves independently
            def belowAll = cmpBytes(v, lo) < 0 // v < lo ≤ every value
            def aboveAll = hiOpt.exists(hi => cmpBytes(v, hi) >= 0) // every value < hi ≤ v
            op match {
              case "=" => belowAll || aboveAll
              case ">" | ">=" => aboveAll // every value < hi ≤ v ⇒ none > / ≥ v
              case "<" => cmpBytes(lo, v) >= 0 // every value ≥ lo ≥ v ⇒ none < v
              case "<=" => cmpBytes(lo, v) > 0
              case _ => false
            }
        }
    }
  }
}

/** METADATA TABLE over a commit-sink directory (round 14) — the
  * Iceberg `table.files` shape: the manifest's own content as a
  * DataFrame, one row per (entry, column-with-stats), so layout health
  * (file sizes, fragmentation), zone-map coverage, and null profiles
  * are QUERYABLE without opening a single data file. Driver-side parse
  * by design: the manifest IS metadata (KB-scale at any table size —
  * the same listing every scan's planning already reads); exposing it
  * as a frame costs no data-path I/O at 100 TB. */
object GraftManifestMeta {
  /** Columns: `file, part_rows, ncols, col_idx, num_lo, num_hi,
    * str_lo, str_hi (hex, exclusive), nulls, kind` — one row per column
    * with recorded stats; entries with NO stats surface one row with
    * col_idx = -1 so fragmentation audits still see every file. `kind`
    * is `data` or `delete` (merge-on-read tombstones — whose ncols
    * column carries the key-column index and whose stats are the
    * deleted-key bounds). */
  def files(spark: org.apache.spark.sql.SparkSession, path: String,
      generation: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val man = GraftCommitMeta.manifestPath(dir, generation)
    if (!fs.exists(man))
      throw new java.io.FileNotFoundException(
        s"no manifest ${man.getName} under $path")
    val entries = GraftCommitMeta.readManifestFile(fs, man).entries
    val rows = entries.flatMap { e =>
      val st = GraftCommitMeta.parseStats(e.stats)
      val kind = if (GraftCommitMeta.isDeleteEntry(e)) "delete" else "data"
      if (st.isEmpty)
        Seq((e.file, e.rows, e.ncols, -1, Option.empty[String],
          Option.empty[String], Option.empty[String], Option.empty[String],
          Option.empty[Long], kind))
      else st.toSeq.sortBy(_._1).map { case (i, cs) =>
        (e.file, e.rows, e.ncols, i, cs.num.map(_._1), cs.num.map(_._2),
          cs.str.map(b => GraftCommitMeta.hexBytes(b._1)),
          cs.str.flatMap(_._2).map(GraftCommitMeta.hexBytes),
          cs.nulls, kind)
      }
    }
    import spark.implicits._
    rows.toDF("file", "part_rows", "ncols", "col_idx", "num_lo", "num_hi",
      "str_lo", "str_hi", "nulls", "kind")
  }
}

/** The commit table's address — the two connectors' format names and
  * their `path` / `generation` / `files` options — in one place: every
  * batch write and manifest read in graft's own code goes through here.
  * Users (and the connector specs) call
  * `format("graft.sources.GraftCommitSink")` /
  * `format("graft.sources.GraftManifestSource")` directly. */
object GraftTable {
  /** The sink's format name, for `writeStream` (a streaming write has no
    * batch `write` twin here). */
  val sinkFormat: String = classOf[GraftCommitSink].getName

  def write(df: org.apache.spark.sql.DataFrame, path: String,
      mode: String): Unit =
    df.write.format(sinkFormat).option("path", path).mode(mode).save()

  /** Reads the table at `path` under `schemaDdl` (by position: the TSV
    * is headerless) — the current manifest, or as of `generation`;
    * `files` restricts the scan to those committed entries (empty = all). */
  def read(spark: org.apache.spark.sql.SparkSession, path: String,
      schemaDdl: String, generation: Option[Long] = None,
      files: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val r = spark.read.format(classOf[GraftManifestSource].getName)
      .schema(schemaDdl).option("path", path)
    val g = generation.fold(r)(v => r.option("generation", v.toString))
    (if (files.isEmpty) g else g.option("files", files.mkString(","))).load()
  }
}

/** One committed part file: its path, the manifest's row count, the
  * column width it was committed at (-1 = legacy strict entry), and the
  * generation's tombstone files `(path, keys, keyColIdx)` the reader
  * anti-joins (round 14 merge-on-read; empty = none). */
case class GraftManifestPartition(file: String, rows: Long, ncols: Int,
  dels: Seq[(String, Long, Int)] = Nil)
  extends InputPartition

class GraftManifestScan(path: String, full: StructType,
    required: StructType, generation: Option[Long],
    pushed: Array[Filter] = Array.empty,
    files: Option[Set[String]] = None)
  extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Explain surface: `.explain` on a manifest read shows the as-of
    * generation, any entry-subset restriction, and the filters the
    * zone-map/null-count skipper will prune with — the same
    * PushedFilters review discipline the parquet scans get. */
  override def description(): String = {
    val gen = generation.map(g => s" generation=g$g").getOrElse("")
    val sub = files.map(f => s" files=${f.size}").getOrElse("")
    s"graft_manifest($path)$gen$sub PushedFilters: [${pushed.mkString(", ")}]"
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = org.apache.spark.SparkContext.getOrCreate().hadoopConfiguration
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    // as-of read: resolve the immutable per-generation manifest instead
    // of the current pointer (a generation never published here is a
    // clear error — "which generations exist" is a directory listing of
    // _GRAFT_COMMIT.g*, not a guess)
    val man = GraftCommitMeta.manifestPath(dir, generation)
    if (!fs.exists(man))
      throw new java.io.FileNotFoundException(generation match {
        case Some(g) =>
          s"no generation-$g manifest (${man.getName}) under $path — " +
            "that generation was never committed here, or was vacuumed " +
            "by a later truncate/retention sweep"
        case None =>
          s"no _GRAFT_COMMIT manifest under $path — nothing is committed here"
      })
    val rawEntries = GraftCommitMeta.readManifestFile(fs, man).entries
    // MERGE-ON-READ tombstones (round 14): equality-delete entries are
    // split out BEFORE any subsetting — they are not data, are never
    // planned as splits, and apply to EVERY data read of this
    // generation (including entry-subset reads: a COW rewrite of one
    // part must still honor deletes that target it)
    val (delEntries, allEntries) =
      rawEntries.partition(GraftCommitMeta.isDeleteEntry)
    val dels = delEntries.map { e =>
      val fp = new Path(dir, e.file)
      if (!fs.exists(fp))
        throw new java.io.FileNotFoundException(
          s"manifest lists tombstone ${e.file} but it is missing under " +
            s"$path — torn commit")
      // the ncols slot of a del- entry carries the key column index
      (fp.toString, e.rows, e.ncols)
    }
    // entry-subset scan: every requested name must be committed — a
    // missing one is a caller bug or a torn view, refused loudly
    val entries = files match {
      case None => allEntries
      case Some(want) =>
        val have = allEntries.map(_.file).toSet
        val missing = want -- have
        if (missing.nonEmpty) throw new java.io.FileNotFoundException(
          s"option 'files' names entries not in the manifest under $path: " +
            missing.toSeq.sorted.mkString(", "))
        allEntries.filter(e => want(e.file))
    }
    // ZONE-MAP file skipping (round 13): a file whose recorded
    // [min, max] provably excludes a pushed filter never plans a task
    // (splits = files here, so this IS partition pruning). The skip is
    // advisory-only for correctness — kept files still evaluate every
    // filter row-wise — and the fail-closed existence check still runs
    // for every KEPT file: skipping is decided on the manifest's own
    // metadata alone, which is the contract at a 100 TB lake — plan
    // from metadata, open only the files the query can need.
    val compiled = pushed.flatMap(f => GraftZoneMap.compile(f, full))
    entries.filter { e =>
      val stats = GraftCommitMeta.parseStats(e.stats)
      !compiled.exists(c => GraftZoneMap.skips(c, e, stats))
    }.map { e =>
      val fp = new Path(dir, e.file)
      // fail-closed: a listed file must exist BEFORE tasks launch
      if (!fs.exists(fp))
        throw new java.io.FileNotFoundException(
          s"manifest lists ${e.file} but it is missing under $path — torn commit")
      GraftManifestPartition(fp.toString, e.rows, e.ncols, dels): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftManifestReaderFactory(full, required, new SerializableHadoopConf(
      org.apache.spark.SparkContext.getOrCreate().hadoopConfiguration))
}

class GraftManifestReaderFactory(full: StructType, required: StructType,
    conf: SerializableHadoopConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val GraftManifestPartition(file, wantRows, ncols, dels) = partition
    // MERGE-ON-READ (round 14): load the generation's tombstone keys
    // once per task — keyed by key-column index, compared as the sink's
    // own canonical cell strings (tombstone files and data cells are
    // written by the SAME formatter, so string equality ≡ value
    // equality). Read amplification is O(tombstone bytes) per task —
    // the standard equality-delete cost; compaction materializes them
    // away ([[GraftCommitCompact]]).
    val tomb: Map[Int, java.util.HashSet[String]] =
      dels.groupBy(_._3).map { case (keyIdx, fsOfIdx) =>
        val set = new java.util.HashSet[String]()
        fsOfIdx.foreach { case (delFile, delRows, _) =>
          val p = new Path(delFile)
          val in = new java.io.BufferedReader(new java.io.InputStreamReader(
            p.getFileSystem(conf.value).open(p), "UTF-8"))
          try {
            var seen = 0L
            var line = in.readLine()
            while (line != null) {
              seen += 1
              if (line != "\\N") { set.add(line); () }
              line = in.readLine()
            }
            if (seen != delRows) throw new java.io.IOException(
              s"tombstone $delFile has $seen keys, manifest committed " +
                s"$delRows — torn delete")
          } finally in.close()
        }
        keyIdx -> set
      }
    // (source field index, converter) per REQUIRED column, in required
    // order — an un-requested column is skipped, never converted
    val srcIdx = required.fields.map(f => full.fieldIndex(f.name))
    val convs: Array[String => Any] = required.fields.map { f =>
      f.dataType match {
        case LongType => (s: String) => java.lang.Long.valueOf(s)
        case IntegerType => (s: String) => java.lang.Integer.valueOf(s)
        case DoubleType => (s: String) => java.lang.Double.valueOf(s)
        // sink-symmetric decode: the writer escaped \ / tab / LF / CR in
        // string fields, so a literal "\N" value (escaped "\\N" on disk)
        // never collides with the NULL token checked below
        case StringType => (s: String) => UTF8String.fromString(GraftTsv.unescape(s))
        case other => throw new IllegalArgumentException(
          s"GraftManifestSource supports long/int/double/string, got $other")
      }
    }
    val p = new Path(file)
    val fs = p.getFileSystem(conf.value)
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(p), "UTF-8"))
    new PartitionReader[InternalRow] {
      private var cells: Array[String] = _
      private var seen = 0L
      override def next(): Boolean = {
        // loop: tombstoned rows are consumed (and width-validated, and
        // counted against the manifest's total) but never emitted
        while (true) {
          val line = in.readLine()
          if (line == null) {
            // the manifest's count is the commit's truth: fewer rows =
            // a truncated part, and a longer file fails below
            if (seen != wantRows) throw new java.io.IOException(
              s"$file has $seen rows, manifest committed $wantRows — torn part")
            return false
          }
          seen += 1
          if (seen > wantRows) throw new java.io.IOException(
            s"$file exceeds the manifest's $wantRows rows — appended-to part")
          cells = line.split("\t", -1)
          // SCHEMA EVOLUTION (round 13): the manifest records each
          // file's committed width — a row must parse EXACTLY that
          // width (anything else is corruption, refused loudly: the TSV
          // is headerless, so a short/long row would otherwise shift
          // columns silently), and a column APPENDED after this file
          // was written (index ≥ its width) surfaces NULL — the
          // mergeSchema contract through the manifest path. Legacy
          // entries (ncols = -1) keep strict pre-evolution semantics.
          if (ncols >= 0 && cells.length != ncols)
            throw new java.io.IOException(
              s"$file row has ${cells.length} fields, committed width is " +
                s"$ncols — corrupt row")
          // tombstone anti-join: a row whose key cell matches a deleted
          // key is logically gone (a key past this file's width reads
          // NULL and can never match; a NULL cell never matches)
          val dead = tomb.nonEmpty && tomb.exists { case (idx, set) =>
            idx < cells.length && cells(idx) != "\\N" &&
              set.contains(cells(idx))
          }
          if (!dead) return true
        }
        false // unreachable
      }
      override def get(): InternalRow = {
        val out = new Array[Any](srcIdx.length)
        var i = 0
        while (i < srcIdx.length) {
          val si = srcIdx(i)
          out(i) =
            if (si >= cells.length) {
              if (ncols >= 0) null
              else throw new java.io.IOException(
                s"$file row has ${cells.length} fields, reader needs " +
                  s"column ${si + 1} — corrupt row (legacy strict entry)")
            } else {
              val raw = cells(si)
              if (raw == "\\N") null else convs(i)(raw)
            }
          i += 1
        }
        new GenericInternalRow(out)
      }
      override def close(): Unit = in.close()
    }
  }
}
