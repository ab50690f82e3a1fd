package graft.sources

import scala.concurrent.{Await, ExecutionContext, Future, blocking}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.{Catalog, TableGraph}
import graft.operators.Closure

/** What to dump — mirrors the reference's `dump()` signature
  * (xdump/base.py:87): whole tables, per-table partial selections, and
  * schema/data toggles. `format` is parquet (the 100 TB-sane archive),
  * csv-with-header (the reference's wire format, xdump/base.py:197),
  * jsonl (the LLM-corpus wire format, via [[Jsonl]]), or orc (the other
  * splittable columnar format Spark ships natively — for targets whose
  * readers are ORC-first, e.g. Hive-lineage warehouses). `compression`
  * maps to the writer codec per format (reference: zip deflate,
  * base.py:87): snappy/zstd/gzip for parquet, none/snappy/zlib/zstd/lz4
  * for orc (NOT gzip — ORC's codec set), gzip/none for csv/jsonl.
  */
final case class DumpSpec(
    fullTables: Seq[String] = Nil,
    partialTables: Map[String, DataFrame] = Map.empty,
    format: String = "parquet",
    compression: String = "snappy",
    dumpSchema: Boolean = true,
    dumpData: Boolean = true)

/** A consistent partial dump as a directory:
  *
  * {{{
  * <path>/manifest.json   — tables, load order, row counts, sequence state
  * <path>/schema/<t>.sql  — CREATE TABLE DDL per table (≙ pg_dump -s)
  * <path>/data/<t>/       — parquet (or CSV w/ header) per table
  * }}}
  *
  * The reference packs CSVs into one zip (xdump/base.py:100); a directory of
  * partitioned files is the distributed equivalent — each table writes in
  * parallel from every executor, no single-writer bottleneck, in one file
  * per `spark.sql.files.maxPartitionBytes` of its estimated size.
  *
  * Write path executes every operator exactly once: tables spool to disk
  * the moment the closure finalizes them (Closure.relatedData onFinal), and
  * downstream FK pulls read the *written* files back (with semi-join
  * pushdown into the fresh parquet) instead of recomputing the selection.
  * Row counts and sequence state ride on the write job via `observe()` —
  * the manifest costs zero extra Spark jobs.
  *
  * Job budget per dump + load: one write job per dumped table, the
  * closure's pull and checkpoint jobs, and one write job per loaded table.
  * Nothing else: the Catalog resolves a Spark-written parquet table from
  * its footer on the driver (other sources: one schema job per table, as
  * it pins each table at first use), read-backs carry the schema they
  * were written with, and the manifest is written and parsed on the
  * driver.
  */
object Dump {

  /** Dump `spec` FK-closed: partial selections are widened with every
    * transitively referenced row (Closure.relatedData) before writing, so
    * the dump loads without FK violations — the reference's core guarantee.
    */
  def write(catalog: Catalog, spec: DumpSpec, path: String): Unit =
    // -v total-time surface (reference base.py:98 wraps the whole dump)
    QueryLog.time("Total execution time: %s") {
    val metrics = collection.concurrent.TrieMap.empty[String, (Long, Long)]

    def writeTable(t: String, df: => DataFrame): Unit =
      try {
        val pk = catalog.primaryKey(t).head
        val obs = Observation()
        val observed = fileSized(df).observe(obs,
          count(lit(1)).as("n"), max(col(pk).cast("long")).as("mx"))
        val w = observed.write.mode(SaveMode.Overwrite)
          .option("compression", spec.compression)
        spec.format match {
          case "csv"   => w.option("header", "true").csv(s"$path/data/$t")
          case "jsonl" => w.json(s"$path/data/$t")
          case "orc"   => w.orc(s"$path/data/$t")
          case _       => w.parquet(s"$path/data/$t")
        }
        val m = obs.get
        metrics(t) = (m("n").asInstanceOf[Long],
          Option(m("mx")).collect { case l: java.lang.Long => l.longValue }.getOrElse(0L))
      } catch {
        case NonFatal(e) => throw new RuntimeException(
          s"dump of table $t into $path/data/$t failed: ${e.getMessage}", e)
      }

    // A partial table's written files replace its selection for the
    // downstream pulls, read back with the schema it was written with.
    def spool(t: String, df: DataFrame): DataFrame =
      if (!spec.dumpData) df
      else {
        writeTable(t, df)
        readData(catalog.spark, path, t, spec.format, df.schema)
      }

    // A table no FK points into is final from the start: the closure
    // never pulls rows into it. That holds for every full table and for
    // the partial tables no edge references (the selection seeds). Their
    // writes have no ordering constraint, so they all start at once, as
    // concurrent Spark jobs; the full-table ones run on beside the
    // closure's serial pull chain, and a seed enters the closure as its
    // read-back. The other partial tables keep the closure's
    // finalization order (each write feeds the downstream pulls that
    // read it back). Whatever fails, every write has settled before
    // write() returns or throws.
    val referenced = catalog.foreignKeys.map(_.foreignTable).toSet
    val seeds =
      if (!spec.dumpData) Map.empty[String, DataFrame]
      // a table listed as both full and partial is the closure's error
      else spec.partialTables.filter { case (t, _) =>
        !referenced(t) && !spec.fullTables.contains(t) }
    def start[T](body: => T): Future[T] = Future(blocking(body))(ExecutionContext.global)
    val fullWrites: Seq[Future[Unit]] =
      if (!spec.dumpData) Nil
      else spec.fullTables.map(t => start(writeTable(t, catalog.table(t))))
    val seedWrites = seeds.toSeq.sortBy(_._1).map { case (t, df) => t -> start(spool(t, df)) }
    val writes = fullWrites ++ seedWrites.map(_._2)
    def settle(): Seq[Throwable] =
      writes.flatMap(f => Await.ready(f, Duration.Inf).value.get.failed.toOption)
    val closed =
      try Closure.relatedData(
        catalog, spec.fullTables,
        spec.partialTables ++ seedWrites.map { case (t, w) => t -> Await.result(w, Duration.Inf) },
        onFinal = (t, df) => if (seeds.contains(t)) df else spool(t, df))
      catch {
        case e: Throwable =>
          settle().filterNot(_ eq e).foreach(e.addSuppressed)
          throw e
      }
    settle() match {
      case Seq() => ()
      case first +: rest => rest.foreach(first.addSuppressed); throw first
    }

    val tables = (spec.fullTables ++ closed.keys).distinct
    if (spec.dumpSchema) writeSchema(catalog, tables.sorted, path)
    writeManifest(catalog, tables, spec, metrics.toMap, path)
  }

  /** `df` in at most one partition per `spark.sql.files.maxPartitionBytes`
    * (Spark's read split size) of its estimated size, so a written file
    * holds up to that much. Unsized, a selection keeps the partitions of
    * its source files and shuffles: a small one is written, and loaded
    * back, as many tiny files at one task each. Filters and semi-joins
    * estimate at most their input's size; a plan of unknown size
    * (Spark's default estimate, e.g. a JDBC scan) is left as it is.
    */
  private def fileSized(df: DataFrame): DataFrame = {
    val perFile = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes"))
    val files = (df.queryExecution.optimizedPlan.stats.sizeInBytes + perFile - 1) / perFile
    if (files >= Int.MaxValue) df else df.coalesce(math.max(1, files.toInt))
  }

  /** CREATE TABLE DDL per table — the `pg_dump -s` analog
    * (xdump/postgresql.py:129). Besides column types, the file carries the
    * table's PK and FK constraints from the Catalog metadata as separate
    * `ALTER TABLE … ADD CONSTRAINT` statements (the reference's dumped DDL
    * keeps PK/FK too — pg_dump restores them on load, base.py:227), so a
    * load into an empty database can restore referential integrity, not
    * just column shapes — plus, for JDBC catalogs, the remaining pg_dump
    * -s surface: column DEFAULT expressions (as `ALTER … SET DEFAULT`
    * statements, portable across PG/Derby/H2 where inline-CREATE syntax
    * is not), secondary `CREATE [UNIQUE] INDEX` statements (both
    * introspected from DatabaseMetaData), CHECK constraints (engine
    * catalogs — Derby SYS.SYSCHECKS / INFORMATION_SCHEMA) and views
    * (`schema/_views.sql`). FK edges whose parent is outside the dumped
    * table set are omitted — they could never validate against this dump.
    */
  private def writeSchema(catalog: Catalog, tables: Seq[String], path: String): Unit = {
    val inSet = tables.toSet
    tables.foreach { t =>
      val create = s"CREATE TABLE $t (${catalog.table(t).schema.toDDL});"
      val pk = catalog.primaryKeys.get(t).filter(_.nonEmpty).map(cols =>
        s"ALTER TABLE $t ADD CONSTRAINT ${t}_pk PRIMARY KEY (${cols.mkString(", ")});")
      val fks = catalog.foreignKeys
        .filter(fk => fk.table == t && inSet(fk.foreignTable))
        // name carries every key column: two FKs sharing a leading column
        // (composite keys differing in later parts) must not collide
        .map(fk => s"ALTER TABLE $t ADD CONSTRAINT " +
          s"${t}_${fk.columnPairs.map(_._1).mkString("_")}_fk " +
          s"FOREIGN KEY (${fk.columnPairs.map(_._1).mkString(", ")}) " +
          s"REFERENCES ${fk.foreignTable} (${fk.columnPairs.map(_._2).mkString(", ")});")
      // CHECK constraints (the final pg_dump -s piece): source names
      // replay as-is when they are plain identifiers; engine-generated
      // non-identifier names get a deterministic local one (the
      // constraint MATTERS, its unquotable name doesn't)
      val ident = "[A-Za-z_][A-Za-z0-9_]*".r
      val cks = catalog.checks.getOrElse(t, Seq.empty).zipWithIndex.map {
        case ((nm, cl), i) =>
          val name = if (ident.matches(nm)) nm else s"${t}_check$i"
          val c = cl.trim
          val clause = if (c.startsWith("(")) c else s"($c)"
          s"ALTER TABLE $t ADD CONSTRAINT $name CHECK $clause;"
      }
      val defs = catalog.columnDefaults.getOrElse(t, Map.empty).toSeq.sortBy(_._1)
        .map { case (c, v) => s"ALTER TABLE $t ALTER COLUMN $c SET DEFAULT $v;" }
      val idxs = catalog.indexes.getOrElse(t, Seq.empty).map(ix =>
        s"CREATE ${if (ix.unique) "UNIQUE " else ""}INDEX ${ix.name} " +
          s"ON $t (${ix.columns.mkString(", ")});")
      writeText(catalog.spark, s"$path/schema/$t.sql",
        (Seq(create) ++ pk ++ fks ++ cks ++ defs ++ idxs).mkString("\n"))
    }
    // Native bounded-character column types (VARCHAR(n)/CHAR(n)): Spark's
    // own schema reads them as plain string, so the recreate load needs
    // this sidecar to re-create them bounded instead of as the target
    // dialect's CLOB/TEXT default (which pg_dump -s would never emit, and
    // whose Derby form can't even be compared in a replayed CHECK).
    if (catalog.columnSqlTypes.nonEmpty)
      writeText(catalog.spark, s"$path/schema/_column_types.json",
        "[" + catalog.columnSqlTypes.toSeq.sortBy(_._1).flatMap {
          case (t, cols) => cols.toSeq.sortBy(_._1).map { case (c, tp) =>
            s"""{"table": "$t", "column": "$c", "type": "$tp"}""" }
        }.mkString("\n", ",\n", "\n") + "]")
    // Views last (the pg_dump -s order — they may reference any table or
    // an earlier view). The introspected definition text is either the
    // bare SELECT (INFORMATION_SCHEMA engines) or a full CREATE VIEW
    // statement (Derby keeps the original DDL text) — normalize to one
    // statement per view. A partial dump that excludes a view's base
    // table still dumps the view (pg_dump -s does too); its replay then
    // fails loudly at load instead of silently losing the definition.
    if (catalog.views.nonEmpty)
      writeText(catalog.spark, s"$path/schema/_views.sql",
        catalog.views.map { case (v, d) =>
          val dd = d.trim.stripSuffix(";").trim
          if (dd.toUpperCase.startsWith("CREATE ")) s"$dd;"
          else s"CREATE VIEW $v AS $dd;"
        }.mkString("\n"))
  }

  /** The dumped DDL statements of one table, semicolons stripped (JDBC
    * `Statement.execute` rejects them): the CREATE TABLE first, then any
    * ALTER TABLE constraint statements. Empty if the dump carries no
    * schema for `t`.
    */
  private[sources] def schemaStatements(
      spark: SparkSession, dumpPath: String, t: String): Seq[String] =
    try splitSqlStatements(readText(spark, s"$dumpPath/schema/$t.sql"))
    catch { case _: java.io.IOException => Nil }

  /** Split dumped DDL text into statements on semicolons OUTSIDE quoted
    * regions ('…' literals with '' escapes, "…" identifiers): a view
    * definition or CHECK clause may legitimately carry ';' inside a
    * string literal — a naive split would replay truncated fragments.
    */
  private[graft] def splitSqlStatements(text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var q: Char = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (q != 0) {
        cur += c
        if (c == q) {
          if (i + 1 < text.length && text.charAt(i + 1) == q) {
            cur += q; i += 1 // '' / "" = escaped quote, region stays open
          } else q = 0
        }
      } else c match {
        case '\'' | '"' => q = c; cur += c
        case ';'        => out += cur.toString; cur.clear(): Unit
        case _          => cur += c
      }
      i += 1
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Manifest: load order (TableGraph), per-table row counts, and sequence
    * state — max(pk) per table, the analog of the reference's sequences
    * dump (xdump/postgresql.py:140), so a loader can resume id generation
    * past the loaded rows. Counts come from the write-time `observe()`
    * metrics — no second execution of any selection.
    */
  private def writeManifest(
      catalog: Catalog,
      tables: Seq[String],
      spec: DumpSpec,
      metrics: Map[String, (Long, Long)],
      path: String): Unit = {
    val order = TableGraph.loadOrder(tables, catalog.foreignKeys)
    val entries = order.map { t =>
      val (rows, seq) = metrics.getOrElse(t, (0L, 0L))
      s"""    {"table": "$t", "rows": $rows, "sequence": $seq, "full": ${spec.fullTables.contains(t)}}"""
    }
    val manifest =
      s"""{
         |  "format": "${spec.format}",
         |  "load_order": [${order.map("\"" + _ + "\"").mkString(", ")}],
         |  "tables": [
         |${entries.mkString(",\n")}
         |  ]
         |}""".stripMargin
    writeText(catalog.spark, s"$path/manifest.json", manifest)
  }

  /** Parsed manifest. Sequence values mirror the reference's
    * `dump/sequences.sql` (postgresql.py:136): replayed on load so id
    * generation resumes past the loaded rows.
    */
  final case class Manifest(
      format: String,
      loadOrder: Seq[String],
      rows: Map[String, Long],
      sequences: Map[String, Long])

  /** Parses `schema/_column_types.json` (table → column → native type);
    * empty when the dump predates the sidecar. Entries are flat
    * identifier/type triples, so a line regex is exact.
    */
  private[graft] def readColumnTypes(
      spark: SparkSession, path: String): Map[String, Map[String, String]] = {
    val text =
      try readText(spark, s"$path/schema/_column_types.json")
      catch { case _: java.io.IOException => return Map.empty }
    val Entry =
      """\{"table": "([^"]+)", "column": "([^"]+)", "type": "([^"]+)"\}""".r
    Entry.findAllMatchIn(text).toSeq
      .groupBy(_.group(1))
      .map { case (t, ms) =>
        t -> ms.map(m => m.group(2) -> m.group(3)).toMap }
  }

  /** Reads and parses `manifest.json` on the driver (Jackson, from Spark's
    * own classpath): robust to key order and whitespace, and no Spark job.
    * A missing, truncated or mistyped manifest fails loudly, naming the
    * file and the offending field.
    */
  def readManifest(spark: SparkSession, path: String): Manifest = {
    import com.fasterxml.jackson.databind.JsonNode
    val file = s"$path/manifest.json"
    def bad(msg: String, cause: Throwable = null): Nothing =
      throw new java.io.IOException(s"dump manifest $file: $msg", cause)
    val root =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(readText(spark, file))
      catch {
        case e: java.io.FileNotFoundException => bad("not found", e)
        case e: com.fasterxml.jackson.core.JsonProcessingException =>
          bad(s"truncated or not valid JSON (${e.getOriginalMessage})", e)
        case e: java.io.IOException => bad(s"unreadable (${e.getMessage})", e)
      }
    if (root == null || !root.isObject) bad("empty or not a JSON object")
    def field(node: JsonNode, name: String, where: String): JsonNode =
      Option(node.get(name)).filterNot(_.isNull)
        .getOrElse(bad(s"missing field '$name'$where"))
    def text(node: JsonNode, name: String, where: String = ""): String = {
      val v = field(node, name, where)
      if (!v.isTextual) bad(s"field '$name'$where is not a string: $v")
      v.asText
    }
    def long(node: JsonNode, name: String, where: String): Long = {
      val v = field(node, name, where)
      if (!v.isIntegralNumber || !v.canConvertToLong)
        bad(s"field '$name'$where is not an integer: $v")
      v.asLong
    }
    def array(node: JsonNode, name: String): Seq[JsonNode] = {
      val v = field(node, name, "")
      if (!v.isArray) bad(s"field '$name' is not an array: $v")
      (0 until v.size).map(v.get)
    }
    val format = text(root, "format")
    val order = array(root, "load_order").zipWithIndex.map { case (t, i) =>
      if (!t.isTextual) bad(s"load_order[$i] is not a table name: $t")
      t.asText
    }
    val tables = array(root, "tables").zipWithIndex.map { case (t, i) =>
      val name = text(t, "table", s" of tables[$i]")
      val where = s" of table $name"
      (name, long(t, "rows", where), long(t, "sequence", where))
    }
    Manifest(format, order,
      tables.map(t => t._1 -> t._2).toMap,
      tables.map(t => t._1 -> t._3).toMap)
  }

  /** A dumped table's files, read with the schema they were written with:
    * no format infers a schema here, so a read-back costs no Spark job.
    */
  private def readData(
      spark: SparkSession, path: String, t: String,
      format: String, schema: StructType): DataFrame =
    format match {
      case "csv" =>
        spark.read.option("header", "true").schema(schema).csv(s"$path/data/$t")
      case "jsonl" =>
        // a dump's own shards are well-formed by construction — a corrupt
        // line means a truncated/partial shard, and the load must fail
        // loudly like the csv/parquet paths do, not restore fewer rows
        Jsonl.readStrict(spark, s"$path/data/$t", schema)
      case "orc" => spark.read.schema(schema).orc(s"$path/data/$t")
      case _ => spark.read.schema(schema).parquet(s"$path/data/$t")
    }

  /** Reads a dump back: tables as DataFrames keyed by name, in manifest load
    * order (≙ xdump/base.py:220 `load`). Every format reads with the dumped
    * DDL's schema: exact types (header-only CSV inference would widen
    * everything to string) and no schema-inference job.
    */
  def load(spark: SparkSession, path: String): Seq[(String, DataFrame)] =
    load(spark, path, readManifest(spark, path))

  /** [[load]] with the dump's manifest already parsed. */
  def load(spark: SparkSession, path: String, manifest: Manifest): Seq[(String, DataFrame)] =
    manifest.loadOrder.map(t => t -> loadTable(spark, path, t, manifest.format))

  /** One dumped table, read with its dumped DDL's schema. */
  private def loadTable(
      spark: SparkSession, path: String, t: String, format: String): DataFrame = {
    // first statement is the CREATE TABLE; constraint ALTERs may follow
    val schema = StructType.fromDDL(
      readText(spark, s"$path/schema/$t.sql").takeWhile(_ != ';')
        .stripPrefix(s"CREATE TABLE $t (").stripSuffix(")"))
    readData(spark, path, t, format, schema)
  }

  /** Loads a dump into a target directory of parquet tables — the offline
    * analog of loading into a database. Loading follows manifest order so a
    * future FK-enforcing sink is also satisfied, and the manifest's
    * sequence state is applied to the target (`_sequences.json`) — the
    * analog of the reference replaying `dump/sequences.sql` on load
    * (xdump/postgresql.py:136-146, base.py:227).
    */
  def loadInto(spark: SparkSession, dumpPath: String, targetDir: String): Unit =
    loadInto(spark, dumpPath, targetDir, readManifest(spark, dumpPath))

  /** [[loadInto]] with the dump's manifest already parsed. */
  def loadInto(
      spark: SparkSession, dumpPath: String, targetDir: String,
      manifest: Manifest): Unit = {
    // Parquet targets enforce no constraints, so unlike the JDBC load the
    // per-table copies have no ordering requirement — run them as
    // concurrent jobs (guide §2.6; the Dump.write full-table discipline):
    // a roundtrip restore isn't serialized on its largest table, and each
    // copy keeps its own observe()-riding count verification. Each copy
    // reads its table on its own thread, and `blocking` lets every copy
    // submit its job at once, however few threads the shared pool has.
    graft.core.EpochStore.inParallel(
      manifest.loadOrder.map { t => () => blocking {
        val df = loadTable(spark, dumpPath, t, manifest.format)
        // same observe()-riding count verification as loadIntoJdbc: a
        // vanished dump shard must abort, not restore fewer rows
        val obs = Observation(s"graft_loadinto_$t")
        df.observe(obs, count(lit(1)).as("rows"))
          .write.mode(SaveMode.Overwrite).parquet(s"$targetDir/$t.parquet")
        manifest.rows.get(t).foreach { expect =>
          val written = obs.get("rows").asInstanceOf[Long]
          if (written != expect) sys.error(
            s"load of $t wrote $written rows but the manifest recorded $expect — " +
              s"dump at $dumpPath is truncated or partially written")
        }
      }}: _*)
    val seqs = manifest.loadOrder.map { t =>
      s"""  {"table": "$t", "value": ${manifest.sequences.getOrElse(t, 0L)}}"""
    }
    writeText(spark, s"$targetDir/_sequences.json",
      seqs.mkString("[\n", ",\n", "\n]"))
  }

  /** Loads a dump into a live database over JDBC — the reference's `xload`
    * against Postgres/SQLite (xdump/base.py:220, cli/load.py:63). Cleanup
    * runs as a separate CHILDREN-FIRST pass (reverse manifest order) before
    * any write: clearing a parent while children still reference it is
    * refused by every FK-enforcing engine, so interleaving cleanup with the
    * parent-first writes can never work against the very targets this
    * exists for. Then tables are written in manifest load order (parents
    * before children), so every constraint is satisfied. `cleanup`:
    * None → append; "truncate" → `DELETE FROM` per table, children first —
    * keeps tables + constraints on any engine (engines disagree on whether
    * TRUNCATE may touch FK-referenced tables at all; ≙ postgresql.py:212);
    * "recreate" → `DROP TABLE` children first, tables re-created from
    * Spark's schema by the writes, then the dumped PK/FK constraint DDL is
    * replayed (≙ recreate_database + initial_setup replay, base.py:202,
    * base.py:227) — constraints land AFTER the data, the standard
    * bulk-load order, so no write is validated row-by-row and parent PKs
    * exist before the FKs that reference them.
    *
    * Sequence state from the manifest is replayed last (best-effort, per
    * table — see [[replaySequences]]): a target whose id columns are
    * identity/serial resumes generation past the loaded rows, the
    * reference's sequences.sql-on-load behavior (postgresql.py:144,
    * base.py:227); plain-integer targets (e.g. what recreate just
    * created — Spark only knows column types) have no generator to
    * restart and are skipped. Call [[replaySequences]] directly for the
    * per-table outcomes.
    */
  def loadIntoJdbc(
      spark: SparkSession,
      dumpPath: String,
      cfg: JdbcConfig,
      cleanup: Option[String] = None,
      restoreConstraints: Boolean = true,
      restoreSequences: Boolean = true,
      verifyCounts: Boolean = true): Unit =
    loadIntoJdbc(spark, dumpPath, readManifest(spark, dumpPath), cfg, cleanup,
      restoreConstraints, restoreSequences, verifyCounts)

  /** [[loadIntoJdbc]] with the dump's manifest already parsed. */
  def loadIntoJdbc(
      spark: SparkSession,
      dumpPath: String,
      manifest: Manifest,
      cfg: JdbcConfig,
      cleanup: Option[String],
      restoreConstraints: Boolean,
      restoreSequences: Boolean,
      verifyCounts: Boolean): Unit =
    // -v total-time surface (reference base.py:222 wraps the whole load)
    QueryLog.time("Total execution time: %s") {
    val tables = load(spark, dumpPath, manifest) // manifest load order
    cleanup.foreach { method =>
      val childrenFirst = tables.map(_._1).reverse
      method match {
        case "truncate" =>
          Jdbc.execute(cfg, childrenFirst.map(t => s"DELETE FROM $t"))
        case "recreate" =>
          childrenFirst.foreach { t =>
            // missing table is fine — recreate of a partially-created target
            try Jdbc.execute(cfg, Seq(s"DROP TABLE $t"))
            catch { case _: java.sql.SQLException => () }
          }
        case other =>
          sys.error(s"unknown cleanup method (use truncate|recreate): $other")
      }
    }
    // recreate re-creates tables through the JDBC writer — restore the
    // dumped native bounded-character types so VARCHAR(32) doesn't come
    // back as CLOB/TEXT; absent sidecar (older dumps) = writer defaults
    val nativeTypes: Map[String, Map[String, String]] =
      if (!cleanup.contains("recreate")) Map.empty
      else readColumnTypes(spark, dumpPath)
    tables.foreach { case (t, df) =>
      // Count verification catches what a per-line check cannot: a dump
      // shard FILE that vanished entirely (any format) restores fewer
      // rows with no parse error anywhere; the manifest's write-time
      // count is the ground truth. The written delta comes from two
      // server-side COUNT(*)s around the write (observe() cannot ride
      // the V1 JDBC sink — it executes via df.rdd, which posts no
      // observed metrics). ≙ the reference's all-inside-one-transaction
      // load, degraded honestly to verify-after-write.
      // before-probe on a table the write is about to CREATE: 0 rows
      val before =
        if (!verifyCounts) 0L
        else try Jdbc.countTable(cfg, t)
        catch { case _: java.sql.SQLException => 0L }
      Jdbc.writeTable(df, cfg, t, SaveMode.Append,
        columnTypes = nativeTypes.getOrElse(t, Map.empty))
      if (verifyCounts) manifest.rows.get(t).foreach { expect =>
        val written = Jdbc.countTable(cfg, t) - before
        if (written != expect) sys.error(
          s"load of $t wrote $written rows but the manifest recorded $expect — " +
            s"dump at $dumpPath is truncated or partially written")
      }
    }
    // Only a recreate left the target constraint-less; truncate/append
    // targets own their schema (reference: initial_setup replay is the
    // recreate path, base.py:227).
    if (cleanup.contains("recreate") && restoreConstraints)
      replayConstraints(spark, dumpPath, cfg, tables.map(_._1))
    if (restoreSequences) replaySequences(spark, dumpPath, manifest, cfg)
  }

  /** Identifier fragment for the shape patterns: a double-quoted name
    * (which may contain spaces) or a bare token. Without the quoted
    * alternative, a statement over `"my table"` matched NO category and
    * was silently dropped from the replay.
    */
  private val Ident = """(?:"[^"]+"|\S+)"""

  private val PkStmt =
    ("""ALTER TABLE (""" + Ident + """) ADD CONSTRAINT """ + Ident +
      """ PRIMARY KEY \(([^)]*)\)""").r

  /** Quote-aware split of a captured PK column list: the quoted-identifier
    * support must reach PAST the statement classifier — a bare
    * `split(",")` over `PRIMARY KEY ("a,b", c)` produced broken NOT NULL
    * DDL that aborted the load (r19 ADVICE). Commas inside double quotes
    * belong to the identifier; quotes are kept on the token (the dump
    * writer emitted them, so the replayed DDL needs them back).
    */
  private[graft] def splitColumnList(cols: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    cols.foreach {
      case '"' => inQ = !inQ; cur += '"'
      case ',' if !inQ => out += cur.toString.trim; cur.clear()
      case c => cur += c
    }
    out += cur.toString.trim
    require(!inQ, s"unbalanced quotes in PK column list: $cols")
    out.filter(_.nonEmpty).toSeq
  }

  /** Replays the dumped PK/FK/default/index DDL onto a live target,
    * bulk-load order: every PK column is first made NOT NULL (Spark's
    * JDBC writer creates nullable columns, and no engine accepts a PK
    * over one — dialect handled by [[Jdbc.notNullSql]]), then all
    * PRIMARY KEY statements, then all FOREIGN KEY statements (their
    * parents' PKs exist by then, regardless of FK-graph order), then
    * column `SET DEFAULT` statements, `CREATE INDEX` statements —
    * indexes after the bulk load so it never paid incremental index
    * maintenance — and finally `CREATE VIEW` statements from
    * `schema/_views.sql` (the pg_dump/pg_restore order).
    */
  private def replayConstraints(
      spark: SparkSession, dumpPath: String, cfg: JdbcConfig,
      tables: Seq[String]): Unit = {
    val stmts = tables.flatMap(t => schemaStatements(spark, dumpPath, t))
    // Classify by the statement's ANCHORED shape (the exact forms the dump
    // writer emits), not by substring: a CHECK clause or DEFAULT value can
    // legitimately contain " FOREIGN KEY " or " SET DEFAULT " inside a
    // string literal, and a substring match would land that statement in
    // two lists — the duplicate ADD CONSTRAINT then aborts the load. The
    // kind token sits right after the constraint name, so these patterns
    // are mutually exclusive by construction; identifiers may be quoted
    // (spaces inside), hence the Ident fragment. Every statement must
    // land in exactly one category — an unclassified (or double-matched)
    // statement fails the load loudly instead of being silently dropped.
    val pkShape =
      (s"(?s)ALTER TABLE $Ident ADD CONSTRAINT $Ident PRIMARY KEY\\b.*").r
    val fkShape =
      (s"(?s)ALTER TABLE $Ident ADD CONSTRAINT $Ident FOREIGN KEY\\b.*").r
    val ckShape =
      (s"(?s)ALTER TABLE $Ident ADD CONSTRAINT $Ident CHECK\\b.*").r
    val defShape =
      (s"(?s)ALTER TABLE $Ident ALTER COLUMN $Ident SET DEFAULT\\b.*").r
    val idxShape = """(?s)CREATE (UNIQUE )?INDEX\b.*""".r
    val shapes = Seq(pkShape, fkShape, ckShape, defShape, idxShape)
    stmts.foreach { s =>
      val n = shapes.count(_.matches(s))
      require(n <= 1,
        s"schema statement matched $n replay categories — a double-matched " +
          s"constraint would replay twice and abort the load: $s")
      // CREATE TABLE (replayed by the table-creation path, not here) is
      // the one legitimate zero-category shape; an unmatched ALTER TABLE
      // is a constraint this classifier WOULD silently drop — fail loud
      require(n == 1 || !s.trim.toUpperCase.startsWith("ALTER TABLE"),
        s"unclassified ALTER TABLE statement would be silently dropped " +
          s"from the constraint replay: $s")
    }
    val pkStmts = stmts.filter(pkShape.matches(_))
    val fkStmts = stmts.filter(fkShape.matches(_))
    val ckStmts = stmts.filter(ckShape.matches(_))
    val defStmts = stmts.filter(defShape.matches(_))
    val idxStmts = stmts.filter(idxShape.matches(_))
    val notNulls = pkStmts.flatMap {
      case PkStmt(t, cols) =>
        splitColumnList(cols).map(c => Jdbc.notNullSql(cfg, t, c))
      case _ => Nil
    }
    // views after everything (their base tables and indexes exist by then
    // — the pg_restore order); absent file = dump carried no views
    val viewStmts =
      try splitSqlStatements(readText(spark, s"$dumpPath/schema/_views.sql"))
      catch { case _: java.io.IOException => Nil }
    Jdbc.execute(cfg,
      notNulls ++ pkStmts ++ fkStmts ++ ckStmts ++ defStmts ++ idxStmts ++
        viewStmts)
  }

  /** Replays the manifest's sequence state onto a live JDBC target — the
    * reference's sequences.sql-on-load (postgresql.py:136-146, base.py:227):
    * each table's id generator restarts just past the dumped max, so rows
    * inserted after the load don't collide with loaded ids. The generator
    * column is the dumped PK's first column; the restart statement is
    * dialect-routed (Postgres `setval(pg_get_serial_sequence(…))`,
    * Derby/DB2/H2 `ALTER TABLE … RESTART WITH`). Best-effort BY DESIGN:
    * a target whose id column is a plain integer (no identity/serial —
    * e.g. a table `recreate` just created) has no generator, and the
    * engine refuses the statement; that table's outcome reports the error
    * instead of failing the load.
    *
    * @return per table: None = replayed; Some(reason) = skipped/refused.
    */
  def replaySequences(
      spark: SparkSession, dumpPath: String,
      cfg: JdbcConfig): Map[String, Option[String]] =
    replaySequences(spark, dumpPath, readManifest(spark, dumpPath), cfg)

  private def replaySequences(
      spark: SparkSession, dumpPath: String, manifest: Manifest,
      cfg: JdbcConfig): Map[String, Option[String]] =
    manifest.loadOrder.map { t =>
      val pkCol = schemaStatements(spark, dumpPath, t).collectFirst {
        case PkStmt(_, cols) => splitColumnList(cols).head
      }
      t -> (pkCol match {
        case None => Some("no primary key in dumped schema")
        case Some(c) =>
          val next = manifest.sequences.getOrElse(t, 0L) + 1
          try { Jdbc.execute(cfg, Seq(Jdbc.restartSequenceSql(cfg, t, c, next))); None }
          catch { case e: java.sql.SQLException => Some(String.valueOf(e.getMessage)) }
      })
    }.toMap

  /** Sequence state of a load target — what the next id per table should
    * start after. Reads `_sequences.json` written by `loadInto`.
    */
  def sequencesOf(spark: SparkSession, targetDir: String): DataFrame = {
    import spark.implicits._
    val raw = readText(spark, s"$targetDir/_sequences.json")
    spark.read.json(Seq(raw).toDS)
      .select(col("table").as("table_name"), col("value").cast("long").as("seq_value"))
  }

  /** Packs a dump directory into ONE zip file — the reference's wire format
    * (xdump/base.py:100 packs schema + per-table CSVs into a zip archive).
    * A convenience for small dumps that must travel as a single artifact:
    * a zip is one writer stream, the opposite of the partitioned-directory
    * default that writes from every executor in parallel — at scale, keep
    * the directory. Entry names are paths relative to `dumpPath`, so
    * `unarchive` restores an identical directory. Streams through the
    * Hadoop FS API (local, HDFS, S3A, ...).
    */
  /** STORED entries at or below this size are buffered in memory for a
    * single-pass write; larger ones take the constant-memory two-pass
    * meter-then-copy path.
    */
  private[sources] val StoredBufferMax: Long = 16L * 1024 * 1024

  private[sources] sealed trait ArchiveMethod
  private[sources] object ArchiveMethod {
    case object Stored extends ArchiveMethod
    final case class Deflated(level: Int) extends ArchiveMethod // -1 default
    case object Bzip2 extends ArchiveMethod
    case object Lzma extends ArchiveMethod
  }

  def archive(spark: SparkSession, dumpPath: String, zipPath: String,
      compression: String = "deflated"): Unit = {
    import org.apache.commons.compress.archivers.zip.{ZipArchiveEntry, ZipArchiveOutputStream}
    val method = parseArchiveCompression(compression)
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dumpPath)
    val fs = root.getFileSystem(conf)
    val rootUri = fs.makeQualified(root).toUri
    // the zip may live on a different filesystem than the dump directory
    val zp = new org.apache.hadoop.fs.Path(zipPath)
    val out = new ZipArchiveOutputStream(zp.getFileSystem(conf).create(zp, true))
    method match {
      case ArchiveMethod.Deflated(l) if l >= 0 => out.setLevel(l)
      case _ => ()
    }
    try {
      val files = fs.listFiles(root, true)
      while (files.hasNext) {
        val f = files.next()
        val rel = rootUri.relativize(f.getPath.toUri).getPath
        val entry = new ZipArchiveEntry(rel)
        method match {
          case ArchiveMethod.Deflated(_) =>
            entry.setMethod(java.util.zip.ZipEntry.DEFLATED)
            out.putArchiveEntry(entry)
            val in = fs.open(f.getPath)
            try in.transferTo(out) finally in.close()
            out.closeArchiveEntry()
          case ArchiveMethod.Stored if f.getLen <= StoredBufferMax =>
            // STORED entries declare size + CRC in the local header,
            // before any bytes. Small files are buffered once and written
            // from the buffer — a single read, so a remote dump (S3A/
            // HDFS) is not fetched twice and a file mutated mid-archive
            // cannot desync header and payload.
            val bytes = {
              val in = fs.open(f.getPath)
              try in.readAllBytes() finally in.close()
            }
            val crc = new java.util.zip.CRC32()
            crc.update(bytes)
            entry.setMethod(java.util.zip.ZipEntry.STORED)
            entry.setSize(bytes.length.toLong)
            entry.setCompressedSize(bytes.length.toLong)
            entry.setCrc(crc.getValue)
            out.putArchiveEntry(entry)
            out.write(bytes)
            out.closeArchiveEntry()
          case ArchiveMethod.Stored =>
            // Above the buffer threshold: one metering pass, then the
            // copy. Constant memory — the file is read twice, never
            // buffered. ASSUMES the dump is immutable while archiving (a
            // file changing between passes makes the writer throw on the
            // size/CRC mismatch rather than corrupt the archive silently).
            val crc = new java.util.zip.CRC32()
            val buf = new Array[Byte](64 * 1024)
            var total = 0L
            val meter = fs.open(f.getPath)
            try {
              var n = meter.read(buf)
              while (n >= 0) { crc.update(buf, 0, n); total += n; n = meter.read(buf) }
            } finally meter.close()
            entry.setMethod(java.util.zip.ZipEntry.STORED)
            entry.setSize(total)
            entry.setCompressedSize(total)
            entry.setCrc(crc.getValue)
            out.putArchiveEntry(entry)
            val in = fs.open(f.getPath)
            try in.transferTo(out) finally in.close()
            out.closeArchiveEntry()
          case ArchiveMethod.Bzip2 | ArchiveMethod.Lzma =>
            // zip methods 12 (bzip2) / 14 (LZMA) — the reference's
            // COMPRESSION_MAPPING tiers the JDK lacks, via the codecs on
            // Spark's own classpath (commons-compress + xz). The entry
            // payload is pre-compressed to a local spool file in ONE pass
            // over the source (CRC + size metered in the same read —
            // constant memory, remote dump fetched once), then written
            // verbatim with addRawArchiveEntry under the foreign method
            // id. Readers: `unarchive` below, and any zipfile runtime
            // with the codec (Python's zipfile reads both).
            val spool = java.io.File.createTempFile("graft-zip-raw", ".bin")
            try {
              val crc = new java.util.zip.CRC32()
              var total = 0L
              val rawOut = new java.io.BufferedOutputStream(
                new java.io.FileOutputStream(spool))
              val (cOut, methodId) = method match {
                case ArchiveMethod.Bzip2 =>
                  (new org.apache.commons.compress.compressors.bzip2
                    .BZip2CompressorOutputStream(rawOut): java.io.OutputStream, 12)
                case _ =>
                  // zip LZMA payload: 2-byte version tag + LE16 props
                  // size (5) + [lc/lp/pb byte, LE32 dict size] + raw
                  // LZMA stream WITHOUT end-of-stream marker (APPNOTE
                  // 4.4.4: marker presence is general-purpose bit 1,
                  // which commons-compress's raw-entry writer cannot
                  // set — so the payload must match the cleared bit:
                  // sizes declared, no marker; Python's zipfile reads
                  // this form, and `unarchive` below keys off the bit)
                  val opts = new org.tukaani.xz.LZMA2Options()
                  val props = ((opts.getPb * 5 + opts.getLp) * 9 + opts.getLc)
                  val dict = opts.getDictSize
                  rawOut.write(Array[Byte](9, 4, 5, 0))
                  rawOut.write(props)
                  rawOut.write(Array[Byte](
                    (dict & 0xff).toByte, ((dict >> 8) & 0xff).toByte,
                    ((dict >> 16) & 0xff).toByte, ((dict >> 24) & 0xff).toByte))
                  (new org.tukaani.xz.LZMAOutputStream(rawOut, opts, false):
                    java.io.OutputStream, 14)
              }
              try {
                val in = fs.open(f.getPath)
                try {
                  val buf = new Array[Byte](64 * 1024)
                  var n = in.read(buf)
                  while (n >= 0) {
                    crc.update(buf, 0, n); total += n
                    cOut.write(buf, 0, n)
                    n = in.read(buf)
                  }
                } finally in.close()
                cOut.close()
                entry.setMethod(methodId)
                entry.setSize(total)
                entry.setCompressedSize(spool.length())
                entry.setCrc(crc.getValue)
                val spoolIn = new java.io.BufferedInputStream(
                  new java.io.FileInputStream(spool))
                try out.addRawArchiveEntry(entry, spoolIn)
                finally spoolIn.close()
              } finally {
                // failure-path close (both codec streams are idempotent
                // on double-close; closes rawOut transitively) — without
                // this a mid-copy throw leaks the compressor + spool fd
                // and the spool delete below races the open handle
                try cOut.close()
                catch { case _: java.io.IOException => () }
              }
            } finally spool.delete()
        }
      }
    } finally out.close()
  }

  /** Archive compression choice ≙ the reference's COMPRESSION_MAPPING
    * (cli/dump.py:32 — stored/deflated/bzip2/lzma): `stored` (no
    * compression — right when the dump payload is already-compressed
    * parquet), `deflated` (zlib default), `deflated:0-9` (explicit zlib
    * level), `bzip2` (zip method 12), or `lzma` (zip method 14) — the
    * max-ratio tiers, written with the commons-compress/xz codecs on
    * Spark's own classpath.
    */
  private[sources] def parseArchiveCompression(compression: String): ArchiveMethod =
    compression match {
      case "stored"   => ArchiveMethod.Stored
      case "deflated" => ArchiveMethod.Deflated(-1)
      case s if s.startsWith("deflated:") =>
        val lvl = s.stripPrefix("deflated:").toIntOption.getOrElse(-99)
        require(lvl >= 0 && lvl <= 9,
          s"deflate level must be 0-9: $s")
        ArchiveMethod.Deflated(lvl)
      case "bzip2" => ArchiveMethod.Bzip2
      case "lzma"  => ArchiveMethod.Lzma
      case other => throw new IllegalArgumentException(
        s"unsupported archive compression '$other' " +
          "(expected stored, deflated, deflated:0-9, bzip2 or lzma)")
    }

  /** Adapts Hadoop's seekable input stream to the NIO channel the zip
    * central-directory reader needs — so bzip2/lzma archives unpack
    * straight off any Hadoop filesystem without a local copy.
    */
  private final class HadoopSeekableChannel(
      in: org.apache.hadoop.fs.FSDataInputStream, length: Long)
    extends java.nio.channels.SeekableByteChannel {
    private var closed = false
    override def read(dst: java.nio.ByteBuffer): Int = {
      val buf = new Array[Byte](dst.remaining())
      val n = in.read(buf, 0, buf.length)
      if (n > 0) dst.put(buf, 0, n)
      n
    }
    override def position(): Long = in.getPos
    override def position(p: Long): java.nio.channels.SeekableByteChannel = {
      in.seek(p); this
    }
    override def size(): Long = length
    override def write(src: java.nio.ByteBuffer): Int =
      throw new java.nio.channels.NonWritableChannelException
    override def truncate(s: Long): java.nio.channels.SeekableByteChannel =
      throw new java.nio.channels.NonWritableChannelException
    override def isOpen: Boolean = !closed
    override def close(): Unit = { closed = true; in.close() }
  }

  /** Restores a zip written by `archive` into a dump directory that
    * `load`/`loadInto` read directly (≙ the reference unpacking its archive
    * on load, xdump/base.py:220). Reads through the commons-compress
    * central-directory reader, so every method `archive` writes — stored,
    * deflated, bzip2 (12), lzma (14) — extracts transparently.
    */
  def unarchive(spark: SparkSession, zipPath: String, targetDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val zp = new org.apache.hadoop.fs.Path(zipPath)
    val zfs = zp.getFileSystem(conf)
    val zlen = zfs.getFileStatus(zp).getLen
    val zf = org.apache.commons.compress.archivers.zip.ZipFile.builder()
      .setSeekableByteChannel(new HadoopSeekableChannel(zfs.open(zp), zlen))
      .get()
    // entries extract onto the TARGET's filesystem (the zip may be remote)
    val tp = new org.apache.hadoop.fs.Path(targetDir)
    val tfs = tp.getFileSystem(conf)
    val rootUri = tfs.makeQualified(tp).toUri
    try {
      val entries = zf.getEntriesInPhysicalOrder
      while (entries.hasMoreElements) {
        val e = entries.nextElement()
        if (!e.isDirectory) {
          val target = new org.apache.hadoop.fs.Path(s"$targetDir/${e.getName}")
          // zip-slip guard: a crafted entry name ("../../etc/passwd") must
          // not resolve outside the extraction directory
          val resolved = tfs.makeQualified(target).toUri.normalize()
          require(!rootUri.relativize(resolved).equals(resolved) &&
              !rootUri.relativize(resolved).getPath.startsWith(".."),
            s"zip entry escapes the extraction directory: ${e.getName}")
          // commons-compress decodes stored/deflated/bzip2 natively; LZMA
          // (14) it exposes only raw, so parse the APPNOTE 4.5 payload
          // header ourselves (version tag, LE16 props size, 5-byte props)
          // and decode with the xz codec — honouring both marker
          // conventions: bit 1 set → end-of-stream marker mode (Python's
          // zipfile writes this), bit 1 clear → declared-size mode (our
          // own writer, and any APPNOTE-compliant EOS-less writer)
          val in: java.io.InputStream =
            if (e.getMethod == 14) {
              val raw = zf.getRawInputStream(e)
              val hdr = raw.readNBytes(4)
              require(hdr.length == 4, s"truncated LZMA header in ${e.getName}")
              val propsSize = (hdr(2) & 0xff) | ((hdr(3) & 0xff) << 8)
              val props = raw.readNBytes(propsSize)
              require(props.length == propsSize && propsSize >= 5,
                s"truncated LZMA properties in ${e.getName}")
              val dictSize = (props(1) & 0xff) | ((props(2) & 0xff) << 8) |
                ((props(3) & 0xff) << 16) | ((props(4) & 0xff) << 24)
              // general-purpose bit 1 says whether the stream carries an
              // end-of-stream marker (APPNOTE 4.4.4). Size -1 makes the
              // decoder REQUIRE the marker, so pass the declared size for
              // EOS-less archives (some writers clear the bit and declare
              // sizes) — they are valid zips and must extract
              val size = if ((e.getRawFlag & 0x2) != 0) -1L else e.getSize
              new org.tukaani.xz.LZMAInputStream(raw, size, props(0), dictSize)
            } else zf.getInputStream(e)
          // the central-directory reader does NOT CRC-check what it
          // decodes (java.util.zip's streaming reader did) — meter the
          // extracted bytes and verify against the directory's CRC, so a
          // bit-flipped archive fails the load instead of planting
          // corrupt table bytes that surface later or never
          val crc = new java.util.zip.CRC32()
          val out = tfs.create(target, true)
          try {
            val buf = new Array[Byte](64 * 1024)
            var m = in.read(buf)
            while (m >= 0) { crc.update(buf, 0, m); out.write(buf, 0, m); m = in.read(buf) }
          } finally { out.close(); in.close() }
          if (e.getCrc != -1L)
            require(crc.getValue == e.getCrc,
              f"CRC mismatch extracting ${e.getName}: archive declares " +
                f"0x${e.getCrc}%08x, payload decodes to 0x${crc.getValue}%08x " +
                "— corrupt or tampered archive")
        }
      }
    } finally zf.close()
  }

  // Small text-file helpers via the Hadoop FS API (works on any supported
  // filesystem: local, HDFS, S3A...).
  private def writeText(spark: SparkSession, path: String, text: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def readText(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }
}
