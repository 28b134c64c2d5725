package graft.run

import java.io.{BufferedInputStream, File, FileInputStream, FileOutputStream}
import java.util.zip.ZipInputStream
import org.apache.commons.compress.archivers.sevenz.SevenZFile
import scala.collection.mutable

/** Format registry + container expansion (S1/S16/S17 —
  * `lib/ndr_import/file/registry.rb`, `file/zip.rb`, `file/seven_zip.rb`).
  *
  * `files` is driver-side by design, like the reference: containers expand
  * to scratch-dir files (basename-stripped — the reference's zip-slip
  * defence, `zip.rb:42-47`) and recurse; the expanded paths then feed
  * `spark.read`/`binaryFile` so the CLUSTER does the heavy reading. At
  * 100 TB the unit of parallelism is many files; the archive itself is the
  * one inherently sequential step (central directory + stream decode), so
  * expanding it where the paths are resolved is the honest shape.
  */
object Registry {

  final class UnknownFormatError(format: String)
    extends RuntimeException(s"""Error: Unknown file format "$format"""")

  def formatFor(filename: String, explicit: Option[String] = None): String =
    explicit.getOrElse {
      val name = new File(filename).getName
      val i = name.lastIndexOf('.')
      if (i < 0) "" else name.substring(i + 1).toLowerCase
    }

  final case class ContainerOptions(
      pattern: Option[String] = None,
      unzipPath: String = sys.props("java.io.tmpdir"),
      password: Option[String] = None)

  /** `Registry.files` (`registry.rb:24-28`): expand containers recursively;
    * non-containers yield themselves. */
  def files(filename: String, options: ContainerOptions = ContainerOptions()): Seq[String] =
    formatFor(filename) match {
      case "zip" => expandZip(filename, options).flatMap(files(_, options))
      case "7z"  => expand7z(filename, options).flatMap(files(_, options))
      case _     => Seq(filename)
    }

  private def scratchDir(options: ContainerOptions): File = {
    val dest = new File(options.unzipPath,
      new java.text.SimpleDateFormat("HHmmssSSS").format(new java.util.Date()) +
        "_" + java.util.UUID.randomUUID().toString.take(8))
    dest.mkdirs()
    dest
  }

  private def keep(basename: String, entryIsFile: Boolean, options: ContainerOptions): Boolean =
    entryIsFile && options.pattern.forall(p => p.r.findFirstIn(basename).isDefined)

  /** S16 — zip expansion; paths stripped to basenames (`zip.rb:42-47`). */
  def expandZip(filename: String, options: ContainerOptions): Seq[String] = {
    val dest = scratchDir(options)
    val out = mutable.ArrayBuffer.empty[String]
    val zin = new ZipInputStream(new BufferedInputStream(new FileInputStream(filename)))
    try {
      var e = zin.getNextEntry
      while (e != null) {
        val base = new File(e.getName).getName
        if (keep(base, !e.isDirectory, options)) {
          val f = new File(dest, base)
          val os = new FileOutputStream(f)
          try zin.transferTo(os) finally os.close()
          out += f.getAbsolutePath
        }
        e = zin.getNextEntry
      }
    } finally zin.close()
    out.toSeq
  }

  /** S17 — 7z expansion via commons-compress (+ optional password,
    * `seven_zip.rb:20-61`). */
  def expand7z(filename: String, options: ContainerOptions): Seq[String] = {
    val dest = scratchDir(options)
    val out = mutable.ArrayBuffer.empty[String]
    val builder = SevenZFile.builder().setFile(new File(filename))
    options.password.foreach(p => builder.setPassword(p.toCharArray))
    val sz = builder.get()
    try {
      var e = sz.getNextEntry
      while (e != null) {
        val base = new File(e.getName).getName
        if (keep(base, !e.isDirectory, options)) {
          val f = new File(dest, base)
          val os = new FileOutputStream(f)
          try {
            val buf = new Array[Byte](64 * 1024)
            var n = sz.read(buf)
            while (n > 0) { os.write(buf, 0, n); n = sz.read(buf) }
          } finally os.close()
          out += f.getAbsolutePath
        }
        e = sz.getNextEntry
      }
    } finally sz.close()
    out.toSeq
  }
}
