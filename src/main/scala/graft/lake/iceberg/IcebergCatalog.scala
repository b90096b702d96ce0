package graft.lake.iceberg

import java.io.File

/** A local HadoopCatalog-style namespace over [[IcebergTable]] — the
  * implementable slice of the "Iceberg Catalog APIs" north star while
  * catalog jars/egress stay environment-blocked (the r10 verdict's
  * remaining-gap #3): `warehouse/<namespace>/<table>/metadata/…`, where a
  * table EXISTS iff its version-hint file does, and every table-level
  * commit goes through IcebergTable's exclusive-create version swap — the
  * same atomicity HadoopCatalog gets from its rename-based pointer.
  *
  * Catalog operations are directory-grain: list = one readdir, create =
  * mkdir (the table becomes visible atomically with its FIRST committed
  * metadata version, not the mkdir), drop = recursive delete, rename = an
  * atomic directory move (same filesystem — the HadoopCatalog restriction).
  * Nothing here reads data files; a census over a namespace costs
  * #tables × (1 JSON + manifest Avro) — metadata-grain at any size. */
object IcebergCatalog {

  /** MULTI-LEVEL namespaces are nested directories: `a.b.c` lives at
    * `warehouse/a/b/c` (the HadoopCatalog layout). A directory is a TABLE
    * iff it carries a `metadata/` dir; anything else under a namespace is a
    * child namespace. Single-string entry points treat the string as one
    * level (the historical callers) — multi-level callers pass the
    * segment Seq. */
  private def nsDir(warehouse: String, ns: String): File = new File(warehouse, ns)
  private def tableDir(warehouse: String, ns: String, name: String): File =
    new File(nsDir(warehouse, ns), name)

  def nsPath(levels: Seq[String]): String = {
    require(levels.nonEmpty && levels.forall(l =>
      l.nonEmpty && !l.contains(File.separator) && !l.contains("/")),
      s"invalid namespace ${levels.mkString(".")}")
    levels.mkString("/")
  }

  /** Table (has metadata/) vs namespace (plain dir) discrimination. */
  def isTableDir(d: File): Boolean = new File(d, "metadata").isDirectory

  def tableLocation(warehouse: String, ns: String, name: String): String =
    tableDir(warehouse, ns, name).getPath

  def createNamespace(warehouse: String, ns: String): Unit = {
    require(!ns.contains(File.separator), s"invalid namespace $ns")
    nsDir(warehouse, ns).mkdirs()
  }

  def createNamespace(warehouse: String, levels: Seq[String]): Unit =
    nsDir(warehouse, nsPath(levels)).mkdirs()

  def listNamespaces(warehouse: String): Seq[String] =
    Option(new File(warehouse).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && !isTableDir(d)).map(_.getName).toSeq.sorted

  /** Child namespaces of a (possibly nested) parent namespace. */
  def listChildNamespaces(warehouse: String, parent: Seq[String]): Seq[String] =
    Option(nsDir(warehouse, nsPath(parent)).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && !isTableDir(d)).map(_.getName).toSeq.sorted

  /** Register a table location (mkdir only — the table is not listable
    * until its first commit writes metadata, the HadoopCatalog rule; SQL
    * `CREATE TABLE` commits that first version at once). */
  def createTable(warehouse: String, ns: String, name: String): String = {
    require(!name.contains(File.separator), s"invalid table name $name")
    val d = tableDir(warehouse, ns, name)
    require(!tableExists(warehouse, ns, name), s"table $ns.$name already exists")
    d.mkdirs()
    d.getPath
  }

  /** A table exists iff committed metadata does (version-hint present). */
  def tableExists(warehouse: String, ns: String, name: String): Boolean =
    new File(tableDir(warehouse, ns, name), "metadata/version-hint.text").exists()

  def listTables(warehouse: String, ns: String): Seq[String] =
    Option(nsDir(warehouse, ns).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && new File(d, "metadata/version-hint.text").exists())
      .map(_.getName).toSeq.sorted

  /** Drop = recursive delete of the table directory (purge semantics). */
  def dropTable(warehouse: String, ns: String, name: String): Boolean = {
    val d = tableDir(warehouse, ns, name)
    if (!d.exists()) false
    else { org.apache.commons.io.FileUtils.deleteDirectory(d); true }
  }

  /** Rename is UNSUPPORTED — faithfully to HadoopCatalog, and for the same
    * reason: table metadata (manifest-list and manifest paths) stores
    * absolute locations, so a directory move would orphan every path the
    * metadata tree references. Renames need a catalog that owns the
    * table-name → location mapping independently of the data layout
    * (REST/Hive — environment-blocked here). */
  def renameTable(warehouse: String, ns: String, from: String, to: String): Unit =
    throw new UnsupportedOperationException(
      s"rename $ns.$from -> $ns.$to: HadoopCatalog-style tables store absolute " +
        "paths in metadata; renaming requires a location-mapping catalog")
}
