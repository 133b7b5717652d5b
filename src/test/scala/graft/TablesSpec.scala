package graft

import java.io.File
import org.apache.spark.sql.types.{LongType, StringType}

/** Pins the schema memo's staleness key (r18 verdict §wrong-4): a
  * directory table whose part file is rewritten IN PLACE — same file
  * name, same entry count, directory mtime restored — must re-infer,
  * not serve the stale schema. The file-level key (dir mtime, dir
  * length) cannot see that rewrite; the hardened key hashes every
  * child's (name, mtime, length). */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("in-place part-file rewrite re-infers a directory table's schema") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-tablesspec").toFile
    val dir = root.getAbsolutePath
    val tbl = new File(root, "memoprobe.parquet")

    // scrub CRC sidecars: the in-place rewrite below would otherwise
    // trip ChecksumFileSystem (stale .crc for new bytes), and deleting
    // them later would change the child count — the test must force
    // the child-state HASH to catch the rewrite, nothing else
    def scrubCrc(d: File): Unit =
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".crc")).foreach(_.delete())

    Seq((1L, 2L)).toDF("a", "b").coalesce(1)
      .write.mode("overwrite").parquet(tbl.getAbsolutePath)
    scrubCrc(tbl)
    val first = Tables.read(spark, dir, "memoprobe").schema
    assert(first("b").dataType == LongType)

    // rewrite the single part file in place: same name, same child
    // count; restore the DIRECTORY mtime so the old key would hit
    val part = tbl.listFiles().filter(_.getName.startsWith("part-")).head
    val dirMtime = tbl.lastModified
    val tmp = new File(root, "rewrite.parquet")
    Seq((1L, "x")).toDF("a", "b").coalesce(1)
      .write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val newPart = tmp.listFiles().filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.copy(newPart.toPath, part.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(tbl.setLastModified(dirMtime))

    val second = Tables.read(spark, dir, "memoprobe").schema
    assert(second("b").dataType == StringType,
      s"stale schema served after in-place rewrite: $second")

    // and the memo still hits when nothing changed (same key twice)
    val third = Tables.read(spark, dir, "memoprobe").schema
    assert(third == second)
  }

  test("in-place rewrite inside a partition subdirectory re-infers the schema") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-tablesspec-nested").toFile
    val dir = root.getAbsolutePath
    val tbl = new File(root, "nestedprobe.parquet")
    def scrubCrc(d: File): Unit =
      Option(d.listFiles()).getOrElse(Array.empty).foreach { f =>
        if (f.isDirectory) scrubCrc(f)
        else if (f.getName.endsWith(".crc")) f.delete()
      }

    Seq((1L, 2L, "x")).toDF("a", "b", "p").coalesce(1)
      .write.mode("overwrite").partitionBy("p").parquet(tbl.getAbsolutePath)
    scrubCrc(tbl)
    val first = Tables.read(spark, dir, "nestedprobe").schema
    assert(first("b").dataType == LongType)

    // rewrite the part file inside p=x in place; restore BOTH directory
    // mtimes, so a key that stops at the table's immediate children
    // (name, mtime, length of `p=x`) would still hit
    val sub = new File(tbl, "p=x")
    val part = sub.listFiles().filter(_.getName.startsWith("part-")).head
    val subMtime = sub.lastModified
    val tblMtime = tbl.lastModified
    val tmp = new File(root, "rewrite.parquet")
    Seq((1L, "y")).toDF("a", "b").coalesce(1)
      .write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val newPart = tmp.listFiles().filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.copy(newPart.toPath, part.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(sub.setLastModified(subMtime) && tbl.setLastModified(tblMtime))

    val second = Tables.read(spark, dir, "nestedprobe").schema
    assert(second("b").dataType == StringType,
      s"stale schema served after a nested in-place rewrite: $second")
    assert(Tables.read(spark, dir, "nestedprobe").schema == second)
  }
}
