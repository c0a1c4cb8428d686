package graft.transport

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.DataFrame

/** The landing-zone hand-off every ingest transport ends in (gRPC Export,
  * `/ingest` JSON and parquet bodies): the batch becomes one parquet file of
  * export rows in the watched source dir, and the app's file stream picks it
  * up as a micro-batch. */
private[transport] object Landing {

  /** Land one batch as `<prefix>_<nanos>_<n>.parquet` in `sourceDir`:
    * `Left` is a parquet body written as-is, `Right` a frame written as one
    * parquet file first. A half-written file must never be visible to the
    * file-stream source, whose listing filters only dot/underscore-prefixed
    * names — so the in-flight temp file is dot-prefixed (a visible temp
    * picked up mid-write, then renamed away, would poison the stream's
    * offset log), and a same-directory ATOMIC_MOVE reveals the completed
    * file in one step. Returns the landed file. */
  def land(sourceDir: String, prefix: String, n: Long,
      batch: Either[Array[Byte], DataFrame]): File = {
    val dir = new File(sourceDir)
    dir.mkdirs()
    def reveal(fill: Path => Unit): File = {
      val tmp = File.createTempFile(s".${prefix}_${n}_", ".tmp", dir)
      fill(tmp.toPath)
      val dst = new File(dir, s"${prefix}_${System.nanoTime()}_$n.parquet")
      Files.move(tmp.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
      dst
    }
    batch match {
      case Left(bytes) => reveal(Files.write(_, bytes))
      case Right(df) =>
        val scratch = Files.createTempDirectory("otlp_land")
        try {
          df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
          val part = scratch.toFile.listFiles
            .filter(_.getName.endsWith(".parquet")).head
          reveal(Files.copy(part.toPath, _, StandardCopyOption.REPLACE_EXISTING))
        } finally deleteRecursively(scratch.toFile)
    }
  }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
