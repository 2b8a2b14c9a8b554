package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/** `COPY INTO` — idempotent file ingest into a lake table (round 19).
  *
  * The Delta `COPY INTO` seat: point it at a landing directory of
  * parquet files and run it as often as you like — each source file's
  * rows are appended EXACTLY ONCE, because the table remembers which
  * files it has ingested. At 100 TB ingest scale this is the contract
  * that matters: upstream delivery is at-least-once (retried uploads,
  * re-run orchestrators), and the dedup ledger turns that into
  * exactly-once table contents with no reprocessing and no manual
  * bookkeeping.
  *
  * Mechanics: an APPEND-ONLY ledger under the table dir — one
  * immutable `_ingest_ledger-<uid>` segment per COPY, read as the
  * union — holds one identity token (`name:size`) per ingested source
  * file. A COPY lists
  * the landing dir, drops already-ledgered files, appends the rest
  * through the ordinary lake write path (so CHECK constraints, bloom
  * enrollment, clustered splitting, and schema-evolution merge all
  * apply), and then extends the ledger. The crash window between the
  * append commit and the ledger write is closed with the same
  * intent-marker protocol [[LakeMV]] uses: `_ingest_intent` records
  * the batch and the table version before the append; a recover that
  * finds the version advanced finalizes the ledger WITHOUT re-reading,
  * one that finds it unmoved discards the intent and the batch is
  * simply re-staged. A re-delivered file with the SAME name but a
  * DIFFERENT size is a new identity (a partial upload that got
  * re-pushed) and ingests again — by design; byte-identical re-uploads
  * keep their token and skip.
  *
  * Contract: one COPY process per table at a time (the reference
  * deployment's ingest shape). A concurrent NON-COPY commit landing
  * inside a COPY's crash window could make recovery mis-attribute the
  * version advance; serializing ingest per table removes the window
  * entirely. Vacuum never touches the ledger (it is not a `.lake`
  * file), so ingest memory survives table maintenance indefinitely. */
object LakeIngest {
  private val Lake = "graft.sources.LakeSource"
  private val LedgerPrefix = "_ingest_ledger"
  private val IntentFile = "_ingest_intent"

  /** Write `body` into a FRESH uniquely-named file via temp + rename.
    * The rename target never pre-exists, so there is no
    * delete-then-rename window anywhere in the ledger protocol — a
    * crash can only ever lose the file being born, never one that
    * previous COPYs committed (r19 review #1: the old single-file
    * rewrite could drop the WHOLE ledger in its delete window, after
    * which every previously-ingested file silently re-ingested). */
  private def writeFresh(f: FileSystem, dir: String, name: String,
      body: String): Unit = {
    val tmp = new HPath(dir,
      s"_tmp-$name-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(FileIO.create(f, tmp, false), "UTF-8"))
    try out.write(body) finally out.close()
    val dst = new HPath(dir, name)
    require(f.rename(tmp, dst), s"copy into: rename $tmp -> $dst failed")
  }

  private def readLines(f: FileSystem, p: HPath): Seq[String] =
    if (!f.exists(p)) Nil
    else {
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(f.open(p), "UTF-8"))
      try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.nonEmpty).toVector
      finally in.close()
    }

  /** The ledger is APPEND-ONLY: one immutable `_ingest_ledger-<uid>`
    * segment per COPY, read as the union. Segments are tiny (one line
    * per landing file) and bounded by COPY invocations, not corpus
    * size. */
  private def readLedger(f: FileSystem, dir: String): Set[String] = {
    val d = new HPath(dir)
    if (!f.exists(d)) return Set.empty
    f.listStatus(d).iterator
      .map(_.getPath)
      .filter(_.getName.startsWith(s"$LedgerPrefix-"))
      .flatMap(p => readLines(f, p))
      .toSet
  }

  private def appendLedger(f: FileSystem, dir: String,
      tokens: Seq[String]): Unit =
    writeFresh(f, dir,
      s"$LedgerPrefix-${java.util.UUID.randomUUID().toString.take(12)}",
      tokens.sorted.mkString("\n"))

  /** Finish or discard a half-done COPY (see the scaladoc). */
  private def recover(f: FileSystem, dir: String): Unit = {
    val ip = new HPath(dir, IntentFile)
    val lines = readLines(f, ip)
    if (lines.isEmpty) return
    val preV = lines.head.toInt
    val cur = LakeFormat.latestVersion(f, dir).getOrElse(-1)
    if (cur > preV) appendLedger(f, dir, lines.tail)
    f.delete(ip, false)
  }

  /** Ingest every not-yet-ledgered parquet file under `srcDir` into the
    * lake table at `tableDir`. Returns (files copied, files skipped,
    * table version after). */
  def copyInto(spark: SparkSession, tableDir: String,
      srcDir: String): (Int, Int, Int) = {
    val f = LakeFormat.fs(tableDir)
    require(f.exists(new HPath(tableDir)) &&
      LakeFormat.latestVersion(f, tableDir).isDefined,
      s"COPY INTO: no lake table under $tableDir — create it first " +
        "(the table's schema and write-time contracts govern the ingest)")
    recover(f, tableDir)
    val fsrc = LakeFormat.fs(srcDir)
    val srcFiles = fsrc.listStatus(new HPath(srcDir)).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    val ledger = readLedger(f, tableDir)
    val (skip, fresh) = srcFiles.partition(st =>
      ledger(s"${st.getPath.getName}:${st.getLen}"))
    val after = LakeFormat.latestVersion(f, tableDir).get
    if (fresh.isEmpty) return (0, skip.size, after)
    val tokens = fresh.map(st => s"${st.getPath.getName}:${st.getLen}")
    writeFresh(f, tableDir, IntentFile,
      (after.toString +: tokens).mkString("\n"))
    spark.read.parquet(fresh.map(_.getPath.toString): _*)
      .write.format(Lake).option("path", tableDir).mode("append").save()
    appendLedger(f, tableDir, tokens)
    f.delete(new HPath(tableDir, IntentFile), false)
    (fresh.size, skip.size, LakeFormat.latestVersion(f, tableDir).get)
  }
}
