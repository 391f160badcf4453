package graft.sinks

import java.io.File
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.util.Using
import org.apache.spark.sql.DataFrame

/** CSV + zip sink (SURVEY.md §2.9 K4-K5; reference writes the long
  * dump as CSV, zips it, deletes the CSV —
  * /root/reference/01_source_me.R:309-317).
  *
  * The CSV itself is written BY SPARK (distributed, spillable), then
  * the driver streams the single part file into the zip — so the only
  * driver-memory cost is a copy buffer, even for a "huge file"
  * (reference's own words). At cluster scale drop the coalesce(1) and
  * zip per-partition outputs instead.
  *
  * The CSV goes to a hidden temp dir next to the zip, and the zip is
  * written like `Xlsx.write`'s workbooks: to a temp file, moved into
  * place atomically. Both temp paths are deleted on every path, so a
  * failed write leaves no zip and no CSV behind.
  */
object Archive {

  def writeCsvZip(df: DataFrame, zipFile: File, entryName: String): Unit = {
    val dir = Files.createDirectories(zipFile.getAbsoluteFile.toPath.getParent)
    val tmp = Files.createTempDirectory(dir, ".csvzip").toFile
    try {
      val csvDir = new File(tmp, "csv")
      df.coalesce(1).write.option("header", true).csv(csvDir.getAbsolutePath)
      val part = csvDir.listFiles().find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no csv part written under $csvDir"))
      Xlsx.atomically(zipFile)(out => Using.resources(new ZipOutputStream(out),
          Files.newInputStream(part.toPath)) { (zip, in) =>
        val entry = new ZipEntry(entryName)
        entry.setTime(Xlsx.FixedZipTime) // reproducible bytes
        zip.putNextEntry(entry)
        val buf = new Array[Byte](1 << 16)
        Iterator.continually(in.read(buf)).takeWhile(_ >= 0)
          .foreach(n => if (n > 0) zip.write(buf, 0, n))
        zip.closeEntry()
      })
    } finally {
      // reference deletes the intermediate csv (:316-317)
      def rm(f: File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(tmp)
    }
  }
}
