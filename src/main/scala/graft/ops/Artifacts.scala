package graft.ops

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, Path, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.apache.spark.sql.{DataFrame, SaveMode}
import graft.ops.HashKey._

/** Output artifact builders (SURVEY.md §2.1 S5/S6/S9 + §3.1 build_output;
  * reference `queue/request_tools.py:516-613`): merged-results CSV with the
  * reference's dotted column names, pretty-printed request JSON echo, and
  * the zip bundle of the results directory.
  *
  * PDF rendering (S7) is out of engine scope (reportlab is presentational);
  * its *data* — the per-dataset metadata join — is the `doc_meta` query.
  */
object Artifacts {

  /** A completed request's artifacts under `out`, copied from its merged
    * result's cache entry `entry`: the entry's parquet files into
    * `results/`, its CSV rendering into `results_csv/` (each stamped
    * `_SUCCESS` after its files), and the `request.json` echo. The CSV
    * rendering is written once per entry, into `<entry>/_csv/`, so every
    * request sharing the merged result copies the same bytes (requests
    * publishing the same entry at once share one write,
    * [[Cache.fillOnce]]); the cache drops it with the entry on a refill or
    * invalidate. Returns the request's status: 1, or -2 after logging the
    * cause and removing `results/_SUCCESS`, so a failed copy never serves
    * a torn result. */
  def publish(cache: Cache, entry: String, out: String, id: String,
      completeTime: Long): Int =
    try {
      val src = Paths.get(entry)
      val csv = src.resolve("_csv")
      cache.fillOnce(csv.toString)(Files.exists(csv.resolve("_SUCCESS")))(
        writeCsv(Fs.readParquet(cache.spark, entry), csv.toString))
      copyParts(src, ".parquet", Paths.get(out, "results"))
      copyParts(csv, ".csv", Paths.get(out, "results_csv"))
      writeRequestJson(Map("id" -> id, "complete_time" -> completeTime),
        s"$out/request.json")
      1
    } catch { case scala.util.control.NonFatal(e) =>
      graft.Pipeline.logFailure(id, e)
      Files.deleteIfExists(Paths.get(out, "results", "_SUCCESS"))
      -2
    }

  private def copyParts(from: Path, suffix: String, to: Path): Unit = {
    Fs.deleteTree(to)
    Files.createDirectories(to)
    Fs.partFiles(from, suffix).foreach(f => Files.copy(f, to.resolve(f.getFileName)))
    Files.createFile(to.resolve("_SUCCESS"))
  }

  /** S5: merged result → headered CSV, reference-faithful dotted column
    * names, no index column (pandas `to_csv(index=False)` analog). */
  def writeCsv(df: DataFrame, path: String): Unit =
    Merge.displayNames(df)
      .coalesce(1) // merged results are |zones| rows — single file like the reference
      .write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("nullValue", "") // only '' is NA (queue/request_tools.py:645-646)
      .csv(path)

  /** S6: request document echo as canonical JSON
    * (`queue/request_tools.py:553-558`). */
  def writeRequestJson(requestLike: Any, path: String): Unit =
    Files.writeString(Paths.get(path), render(toJVal(requestLike)))

  /** Per-selection raw-data copy (`queue/request_tools.py:580-604`): for
    * each released (dataset, hash) selection, copy that msr output's
    * `project_locations.csv` into the bundle's `raw_aid_data/` folder as
    * `<dataset>_<hash>.csv`. A missing source is skipped silently — the
    * reference wraps each copy in try/except-pass (a selection whose msr
    * output was purged still ships the rest of the bundle). Returns the
    * number of files actually copied. */
  def copyRawData(dataRoot: String, bundleDir: String,
      selections: Seq[(String, String)]): Int = {
    val dst = Paths.get(bundleDir, "raw_aid_data")
    Files.createDirectories(dst)
    selections.count { case (dataset, hash) =>
      val src = Paths.get(dataRoot, "msr", "done", dataset, hash,
        "project_locations.csv")
      try {
        Files.isRegularFile(src) && {
          Files.copy(src, dst.resolve(s"${dataset}_$hash.csv"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          true
        }
      } catch {
        // per-file fault containment, like the reference's try/except-pass:
        // a source vanishing mid-copy (concurrent purge) or an unreadable
        // file skips that selection, never the rest of the bundle
        case _: java.io.IOException => false
      }
    }
  }

  /** S9: bundle a results directory into a zip
    * (`queue/request_tools.py:561-610`). */
  def zipDir(dir: String, zipPath: String): Unit = {
    val root = Paths.get(dir)
    val out = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(zipPath)))
    try {
      val it = Files.walk(root).iterator()
      while (it.hasNext) {
        val p: Path = it.next()
        if (Files.isRegularFile(p)) {
          out.putNextEntry(new ZipEntry(root.relativize(p).toString))
          out.write(Files.readAllBytes(p))
          out.closeEntry()
        }
      }
    } finally out.close()
  }
}
