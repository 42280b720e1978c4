package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** What a table directory holds on disk, for specs that check which
  * files a write left alone. */
object TableFiles {

  /** Data files under `dir`, relative to it (partition subdirs included). */
  def dataFiles(dir: String): Set[String] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.map(root.relativize(_).toString)
      .filter(_.endsWith(".parquet")).toSet
    finally walk.close()
  }

  /** Data files under `dir`, relative to it, with their mtimes and the
    * SHA-256 of their bytes. */
  def fileStates(dir: String): Map[String, (Long, String)] =
    dataFiles(dir).map { f =>
      val p = Paths.get(dir, f)
      val sha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
      f -> (Files.getLastModifiedTime(p).toMillis, sha)
    }.toMap
}
