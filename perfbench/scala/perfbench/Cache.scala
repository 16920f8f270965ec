package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** On-disk cache of generated inputs, keyed by workload, seed, generator
  * version and input digest. A directory is used only when its DIGEST
  * marker (written last) matches, so an interrupted write is redone. */
object Cache {
  def ensure(work: File, workload: String, seed: Long, digest: String)(write: File => Unit): File = {
    val dir = new File(work, s"inputs/$workload-seed$seed-v${Gen.Revision}")
    val marker = new File(dir, "DIGEST")
    val fresh = marker.isFile &&
      new String(Files.readAllBytes(marker.toPath), StandardCharsets.UTF_8) == digest
    if (!fresh) {
      Main.deleteTree(dir)
      dir.mkdirs()
      write(dir)
      Files.write(marker.toPath, digest.getBytes(StandardCharsets.UTF_8))
    }
    dir
  }

  /** Run independent, untimed Spark work (input writes, reference
    * results) as concurrent jobs; results in argument order. */
  def parallel[A](work: (() => A)*): Seq[A] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    work.map(w => Future(w())).map(f => Await.result(f, Duration.Inf))
  }

  /** Bytes of the generated input files (the marker excluded). */
  def inputBytes(dir: File): Long =
    Main.dirBytes(dir)._2 - new File(dir, "DIGEST").length()

  /** The single data file Spark wrote under `dir`. */
  def onlyFile(dir: File): File =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")) match {
      case Seq(f) => f
      case other => sys.error(s"expected one data file under $dir, found ${other.size}")
    }
}
