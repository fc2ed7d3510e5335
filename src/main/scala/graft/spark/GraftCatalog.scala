package graft.spark

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{CatalogPlugin, FunctionCatalog, Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Named graft tables: a DSv2 `TableCatalog` over a filesystem root, so a
  * pipeline consumer writes
  *
  *   spark.conf.set("spark.sql.catalog.graft", "graft.spark.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.root", "/warehouse/graft")
  *   CREATE TABLE graft.corpora.web USING graft LOCATION '/data/web_tokens'
  *   SELECT source, count(*) FROM graft.corpora.web GROUP BY source
  *
  * instead of threading raw paths through every job (the ergonomic analog of
  * the reference being importable by NAME, `import pyppmd`, not by file
  * path). Every DSv2 capability the path-based source has — manifest-exact
  * statistics, complete global + GROUP BY source aggregate pushdown, zone
  * pruning, DPP, the batch/streaming sinks — lights up unchanged behind the
  * name, because `loadTable` returns the same `GraftTable`.
  *
  * Layout under `root` (set via `spark.sql.catalog.<name>.root`; defaults to
  * `<spark.sql.warehouse.dir>/graft`): namespaces are directories; a table
  * named (ns…, t) is a one-line JSON pointer file `<root>/<ns…>/<t>.gtable`
  * holding the data location — the catalog never copies or rewrites data.
  * MANAGED tables (no LOCATION clause) get `<root>/<ns…>/<t>` as their data
  * dir and DROP deletes it; EXTERNAL tables (explicit LOCATION) keep their
  * data on DROP — standard Spark semantics. Pointer writes go through a
  * temp file + atomic rename, so a concurrent reader sees the old pointer
  * or the new one, never a torn file.
  *
  * `VERSION AS OF n` time travel maps to the source's `untilBatch` snapshot
  * over streaming batch trees (a plain lineage table refuses it loudly, same
  * as the path-based option).
  *
  * At 100 TB the catalog is metadata-only: O(1) pointer-file reads per query
  * plan, no data listing — scale lives entirely in the source's manifest
  * planning, which is unchanged. */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog {

  private var catalogName: String = _
  private var root: java.io.File = _

  override def name(): String = catalogName

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val rootPath = Option(options.get("root")).getOrElse {
      val wh = try SparkSession.active.sessionState.conf.warehousePath
        catch { case _: Exception => sys.props("java.io.tmpdir") }
      // warehousePath may be a file: URI; keep local-fs semantics simple
      s"${wh.stripPrefix("file:")}/graft"
    }
    root = new java.io.File(rootPath)
    if (!root.isDirectory && !root.mkdirs() && !root.isDirectory)
      throw new IllegalStateException(
        s"graft catalog '$name': cannot create root dir $rootPath")
  }

  // ---- name hygiene -------------------------------------------------------
  // names become filesystem entries: refuse separators / traversal / hidden
  // names instead of silently escaping the root
  private def checkPart(p: String, kind: String): String = {
    require(p.nonEmpty && !p.contains("/") && !p.contains("\\") &&
      p != "." && p != ".." && !p.startsWith(".") && !p.endsWith(".gtable"),
      s"graft catalog: illegal $kind name '$p'")
    p
  }
  private def nsDir(ns: Array[String]): java.io.File =
    ns.foldLeft(root)((d, p) => new java.io.File(d, checkPart(p, "namespace")))
  private def pointerFile(ident: Identifier): java.io.File =
    new java.io.File(nsDir(ident.namespace()),
      checkPart(ident.name(), "table") + ".gtable")
  private def managedDir(ident: Identifier): java.io.File =
    new java.io.File(nsDir(ident.namespace()), checkPart(ident.name(), "table"))

  // ---- pointer file (tiny JSON, atomic rename) ----------------------------
  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"; case c => c.toString
    }
  private def unesc(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s(i) == '\\' && i + 1 < s.length) {
        s(i + 1) match {
          case 'n' => b += '\n'; case 'r' => b += '\r'; case 't' => b += '\t'
          case c => b += c
        }
        i += 2
      } else { b += s(i); i += 1 }
    }
    b.toString
  }
  // Concurrency note: the rename makes pointer CONTENT atomic (a reader
  // sees old-or-new, never torn), but two drivers racing CREATE on the
  // same name both pass the existence check and last-write wins — the
  // inherent filesystem-catalog caveat (HadoopCatalog-style); a metastore
  // with conditional puts is the fix at multi-driver scale, not a local FS.
  private def writePointer(f: java.io.File, location: String,
                           external: Boolean): Unit = {
    val tmp = new java.io.File(f.getParentFile, s".${f.getName}.tmp")
    java.nio.file.Files.writeString(tmp.toPath,
      s"""{"location":"${esc(location)}","external":$external}""" + "\n")
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
  /** (location, external); None if the pointer does not exist. */
  private def readPointer(f: java.io.File): Option[(String, Boolean)] =
    if (!f.isFile) None
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val loc = """"location":"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(txt)
        .map(m => unesc(m.group(1)))
        .getOrElse(throw new IllegalStateException(
          s"graft catalog: corrupt table pointer $f"))
      val ext = """"external":(true|false)""".r.findFirstMatchIn(txt)
        .exists(_.group(1) == "true")
      Some((loc, ext))
    }

  // ---- TableCatalog -------------------------------------------------------
  override def listTables(ns: Array[String]): Array[Identifier] = {
    val d = nsDir(ns)
    if (!d.isDirectory) throw new NoSuchNamespaceException(ns)
    val fs = d.listFiles()
    if (fs == null) Array.empty
    else fs.filter(f => f.isFile && f.getName.endsWith(".gtable"))
      .map(f => Identifier.of(ns, f.getName.stripSuffix(".gtable")))
      .sortBy(_.name())
  }

  override def loadTable(ident: Identifier): Table =
    readPointer(pointerFile(ident)) match {
      case Some((loc, _)) => new GraftNamedTable(fullName(ident), loc, None)
      case None => throw new NoSuchTableException(ident)
    }

  /** `VERSION AS OF n` — the source's `untilBatch` batch-tree snapshot. */
  override def loadTable(ident: Identifier, version: String): Table =
    readPointer(pointerFile(ident)) match {
      case Some((loc, _)) =>
        require(version.toLongOption.exists(_ >= 0),
          s"graft time travel takes a non-negative batch number, got '$version'")
        new GraftNamedTable(fullName(ident), loc, Some(version.toLong))
      case None => throw new NoSuchTableException(ident)
    }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft tables manage their own chunk layout; PARTITIONED BY is not supported")
    // empty schema = plain CREATE with no column list: adopt the graft
    // schema. A provided schema (column list or CTAS query) must match it —
    // names and types, nullability ignored (CTAS query schemas are nullable)
    if (schema.nonEmpty) {
      // nullability is NOT part of the match: CTAS query schemas arrive
      // nullable even over non-null inputs (the WRITE path enforces
      // non-null values row by row)
      def norm(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
        dt match {
          case org.apache.spark.sql.types.ArrayType(e, _) =>
            org.apache.spark.sql.types.ArrayType(norm(e), containsNull = true)
          case org.apache.spark.sql.types.MapType(k, v, _) =>
            org.apache.spark.sql.types.MapType(norm(k), norm(v), valueContainsNull = true)
          case StructType(fs) =>
            StructType(fs.map(f => f.copy(dataType = norm(f.dataType), nullable = true)))
          case other => other
        }
      val want = GraftTable.Schema.map(f => (f.name, norm(f.dataType)))
      val got = schema.map(f => (f.name, norm(f.dataType)))
      require(got == want,
        s"graft tables have the fixed schema ${GraftTable.Schema.simpleString}; got ${schema.simpleString}")
    }
    val f = pointerFile(ident)
    if (!f.getParentFile.isDirectory)
      throw new NoSuchNamespaceException(ident.namespace())
    if (f.isFile) throw new TableAlreadyExistsException(ident)
    val external = Option(properties.get(TableCatalog.PROP_LOCATION))
    val loc = external.getOrElse(managedDir(ident).getAbsolutePath)
    // a MANAGED table is readable the moment it exists: initialize an
    // empty lineage table (zero manifest partitions = zero rows) so
    // `SELECT ... FROM t` between CREATE and the first INSERT returns the
    // empty result instead of "holds neither a lineage table nor batch=N".
    // External locations are left untouched — the data there is not ours
    // to shape, and a wrong LOCATION should stay loud.
    if (external.isEmpty) {
      val lin = new java.io.File(loc, "_lineage")
      if (!lin.isDirectory && !lin.mkdirs() && !lin.isDirectory)
        throw new IllegalStateException(
          s"cannot initialize managed graft table dir $loc")
    }
    writePointer(f, loc, external.isDefined)
    new GraftNamedTable(fullName(ident), loc, None)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "graft tables have a fixed schema and no mutable properties; ALTER TABLE is not supported")

  override def dropTable(ident: Identifier): Boolean = {
    val f = pointerFile(ident)
    readPointer(f) match {
      case None => false
      case Some((loc, external)) =>
        java.nio.file.Files.delete(f.toPath)
        ManifestCache.invalidate(loc)
        // managed data belongs to the catalog; external data is only
        // referenced, never owned (standard Spark DROP semantics)
        if (!external)
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(loc))
        true
    }
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    val src = pointerFile(from)
    val dst = pointerFile(to)
    val ptr = readPointer(src).getOrElse(throw new NoSuchTableException(from))
    if (dst.isFile) throw new TableAlreadyExistsException(to)
    if (!dst.getParentFile.isDirectory)
      throw new NoSuchNamespaceException(to.namespace())
    ptr match {
      case (loc, external) =>
        if (external) {
          // pointer-only move: the data stays where LOCATION put it
          writePointer(dst, loc, external = true)
          java.nio.file.Files.delete(src.toPath)
        } else {
          // managed data moves with the name (Hive-style managed rename)
          val newLoc = managedDir(to)
          val old = new java.io.File(loc)
          if (old.isDirectory)
            java.nio.file.Files.move(old.toPath, newLoc.toPath)
          writePointer(dst, newLoc.getAbsolutePath, external = false)
          java.nio.file.Files.delete(src.toPath)
        }
    }
  }

  // ---- FunctionCatalog ------------------------------------------------------
  // ONE function: bucket(n, doc_id), the hash identity behind
  // storage-partitioned joins. V2ScanPartitioningAndOrdering resolves the
  // scan-reported `bucket(n, doc_id)` transform through the table's catalog,
  // so serving it here is what lets two arranged graft tables join on doc_id
  // with zero shuffle (see GraftBucketFunction).
  override def listFunctions(ns: Array[String]): Array[Identifier] =
    if (ns.isEmpty) Array(Identifier.of(Array.empty, "bucket"))
    else if (namespaceExists(ns)) Array.empty
    else throw new NoSuchNamespaceException(ns)

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new NoSuchFunctionException(ident)

  private def fullName(ident: Identifier): String =
    (catalogName +: (ident.namespace() :+ ident.name())).mkString(".")

  // ---- SupportsNamespaces -------------------------------------------------
  override def defaultNamespace(): Array[String] = Array.empty

  override def listNamespaces(): Array[Array[String]] = listNamespaces(Array.empty)

  override def listNamespaces(ns: Array[String]): Array[Array[String]] = {
    val d = nsDir(ns)
    if (!d.isDirectory) throw new NoSuchNamespaceException(ns)
    val fs = d.listFiles()
    if (fs == null) Array.empty
    else fs.filter(f => f.isDirectory && !f.getName.startsWith(".") &&
        // a managed table's data dir is not a namespace
        !new java.io.File(d, f.getName + ".gtable").isFile)
      .map(f => ns :+ f.getName).sortBy(_.mkString("."))
  }

  override def namespaceExists(ns: Array[String]): Boolean =
    ns.isEmpty || nsDir(ns).isDirectory

  override def loadNamespaceMetadata(ns: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(ns: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    val d = nsDir(ns)
    if (d.isDirectory) throw new NamespaceAlreadyExistsException(ns)
    if (!d.mkdirs() && !d.isDirectory)
      throw new IllegalStateException(s"cannot create namespace dir $d")
  }

  override def alterNamespace(ns: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces carry no mutable metadata")

  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean = {
    require(ns.nonEmpty, "cannot drop the root namespace")
    val d = nsDir(ns)
    if (!d.isDirectory) return false
    val contents = Option(d.listFiles()).getOrElse(Array.empty)
    if (contents.nonEmpty && !cascade)
      throw new NonEmptyNamespaceException(ns)
    // cascade: drop tables through dropTable so managed data is deleted
    // and external data is preserved, exactly as individual DROPs would
    if (cascade) {
      listTables(ns).foreach(dropTable)
      listNamespaces(ns).foreach(child => dropNamespace(child, cascade = true))
    }
    org.apache.commons.io.FileUtils.deleteQuietly(d)
  }
}

/** A catalog-resolved graft table: the path-based `GraftTable` wearing its
  * catalog name, optionally pinned to a `VERSION AS OF` batch snapshot. */
class GraftNamedTable(ident: String, path: String,
                      versionAsOf: Option[Long]) extends GraftTable(path) {
  override def name(): String = ident
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = versionAsOf match {
      case None => options
      case Some(n) =>
        // SQL time travel wins over a stray read option: pinning to two
        // different snapshots in one query is a contradiction, fail loudly
        require(!options.containsKey("untilbatch") ||
          options.get("untilbatch") == n.toString,
          s"VERSION AS OF $n conflicts with option untilBatch=${options.get("untilbatch")}")
        val m = new util.HashMap[String, String](options.asCaseSensitiveMap())
        m.put("untilbatch", n.toString)
        new CaseInsensitiveStringMap(m)
    }
    super.newScanBuilder(merged)
  }
}
