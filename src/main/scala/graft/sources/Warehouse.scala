package graft.sources

import org.apache.spark.sql.SparkSession

/** The one build path for warehouse-managed tables derived from the
  * corpus (the bucketed join copies, the Z-ordered lineitem, the
  * aggregate summaries): naming, the per-table monitor, a cheap content
  * tag of the source parquet so a derived table detects a base that was
  * regenerated underneath it, and the stale-location sweep.
  */
object Warehouse {

  /** Filesystem-safe tag of a corpus dir for derived-table names. */
  def dirTag(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]", "_").toLowerCase

  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The JVM monitor that serializes every build and rewrite of the
    * derived table `name`; reentrant, so a writer holding it may call
    * [[derived]] for the same table. */
  private[graft] def monitor(name: String): Object =
    monitors.computeIfAbsent(name, _ => new Object)

  /** Ensure the derived table `name` over the source parquet `src`
    * exists and returns `name`. Under the table's [[monitor]]: when
    * `checkTag` holds, a table whose recorded source tag no longer
    * matches `src` is dropped; a missing table has its managed location
    * swept, is built by `write(name)` (which must create it with
    * `saveAsTable`), and gets the tag of `src` recorded. A table that
    * exists and is current is left untouched. */
  def derived(s: SparkSession, name: String, src: java.io.File,
              checkTag: Boolean = true)(write: String => Unit): String =
    monitor(name).synchronized {
      if (checkTag && s.catalog.tableExists(name) &&
          !sourceTagCurrent(s, name, src))
        s.sql(s"DROP TABLE IF EXISTS $name")
      if (!s.catalog.tableExists(name)) {
        dropStaleLocation(s, name)
        write(name)
        java.nio.file.Files.writeString(tagFile(s, name).toPath,
          contentTag(src))
      }
      name
    }

  /** The session warehouse directory. */
  private[graft] def dir(s: SparkSession): java.io.File =
    new java.io.File(
      new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath)

  private def location(s: SparkSession, name: String): java.io.File =
    new java.io.File(dir(s), name)

  /** Delete `f` and, for a directory, everything under it. */
  private[graft] def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }

  /** A fresh session catalog cannot adopt a previous JVM's managed
    * directory (metadata lives in the catalog, not the files) and
    * saveAsTable refuses to reuse it: drop the orphan before a build. */
  private def dropStaleLocation(s: SparkSession, name: String): Unit =
    rmTree(location(s, name))

  /** md5 over every data file's (name, length, footer tail) — the same
    * content key IvfPqIndex uses: reading the last 64 KiB keeps this
    * O(#files) at any size, and the parquet footer's row-group
    * statistics move whenever the data does. Lets a derived table
    * detect a regenerated base even at identical byte length and mtime. */
  def contentTag(src: java.io.File): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(src.getAbsolutePath.getBytes("UTF-8"))
    val files =
      if (src.isDirectory)
        src.listFiles().filter(f => f.isFile && !f.getName.startsWith("_"))
          .sortBy(_.getName)
      else Array(src)
    files.foreach { f =>
      md.update(s"${f.getName}:${f.length}:".getBytes("UTF-8"))
      val in = new java.io.RandomAccessFile(f, "r")
      try {
        val n = math.min(f.length, 65536L)
        in.seek(f.length - n)
        val buf = new Array[Byte](n.toInt)
        in.readFully(buf)
        md.update(buf)
      } finally in.close()
    }
    md.digest.map("%02x".format(_)).mkString
  }

  /** True when the tag recorded for `name` matches the current content
    * of `src`. The tag file lives BESIDE the managed location (not
    * inside it) so a table rebuild can't orphan it. */
  private def sourceTagCurrent(s: SparkSession, name: String,
                               src: java.io.File): Boolean = {
    val f = tagFile(s, name)
    f.exists() &&
      (try java.nio.file.Files.readString(f.toPath) == contentTag(src)
       catch { case _: java.io.IOException => false })
  }

  private def tagFile(s: SparkSession, name: String): java.io.File =
    new java.io.File(location(s, name).getPath + ".__src__")
}
