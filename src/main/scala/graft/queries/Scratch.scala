package graft.queries

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import graft.Tables
import graft.sources.AtomicPublish
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** The registry's scratch layer: where a gate's derived fixtures, outputs
  * and checkpoints live on local disk.
  *
  *  - A derived fixture (a re-encoding or split of a source table) is a
  *    cache shared by every run, at `/tmp/graft_<name>_<key>`, built once
  *    and keyed by the fixture dir and the source table's mtime.
  *  - A gate run's output and checkpoint are its own: each run gets a
  *    fresh directory under one per-JVM root, so no run can delete or
  *    overwrite another's files (the reference keys each job's checkpoint
  *    directory by its job id for the same reason).
  */
object Scratch {

  /** 8-hex-digit tag of a fixture dir: 32-bit MurmurHash3 of the full
    * path, so two dirs with the same digits never share catalog tables or
    * index tags. */
  def dirTag(dir: String): String =
    java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir).toLong & 0xffffffffL)

  /** Cache key of a fixture derived from `dir`'s `table`: the dir tag (plus
    * `tagSuffix`) and the table file's mtime, so a regenerated fixture gets
    * a fresh cache instead of a stale one. */
  def derivedKey(dir: String, table: String, tagSuffix: String = ""): String =
    s"${dirTag(dir)}${tagSuffix}_${new File(Tables.path(dir, table)).lastModified()}"

  /** `/tmp/graft_<name>_<key>`, built once by `gen(staging)` and published
    * atomically ([[AtomicPublish.once]]; `preCreate = false` for writers
    * that refuse an existing target). Returns the directory's path. */
  def derived(dir: String, table: String, name: String, preCreate: Boolean = true,
              tagSuffix: String = "")(gen: File => Unit): String =
    AtomicPublish.once(
      new File(s"/tmp/graft_${name}_${derivedKey(dir, table, tagSuffix)}"), preCreate)(gen)

  /** Writes frame i as the single file `out/batch_<ii>.parquet`, with
    * mtimes strictly increasing in frame order, so a file stream with
    * `maxFilesPerTrigger = 1` replays the frames as ordered micro-batches. */
  def orderedBatches(out: File, frames: Seq[DataFrame]): Unit =
    frames.zipWithIndex.foreach { case (df, i) =>
      val tmp = new File(out, s"stage_$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new File(out, f"batch_$i%02d.parquet")
      Files.move(part.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
      dst.setLastModified(1700000000000L + i * 60000L)
      FileUtils.deleteDirectory(tmp)
    }

  /** One gate run's private directory and its conventional parts. */
  final case class Run(dir: File) {
    def out: String = new File(dir, "out").getAbsolutePath
    def ckpt: String = new File(dir, "ckpt").getAbsolutePath
    def state: String = new File(dir, "state").getAbsolutePath
  }

  /** The per-JVM root, made on first use under `java.io.tmpdir` and
    * removed when the JVM exits. A run's directory must outlive the run:
    * the frame a gate returns reads its output lazily. */
  private lazy val root: File = {
    val d = Files.createTempDirectory(
      new File(System.getProperty("java.io.tmpdir")).toPath, "graft_scratch_").toFile
    sys.addShutdownHook(FileUtils.deleteQuietly(d))
    d
  }

  /** Starts a stream in a fresh, empty [[Run]] directory for `name`,
    * drains what is available, stops it and returns the run, whose files
    * stay for the caller to read. */
  def drain(name: String)(start: Run => StreamingQuery): Run = {
    val run = Run(Files.createTempDirectory(root.toPath, s"${name}_").toFile)
    val q = start(run)
    try q.processAllAvailable() finally q.stop()
    run
  }
}
