package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.MapType

import graft.car.{CarDataGen, CarSchema}
import graft.sources.{Ingest, Maintenance}

/** Writes beside reads in one process, on two threads in lock step. A
  * pass has ten steps and a compaction step. In each step the reader
  * thread sends one dashboard request while the writer thread appends one
  * seeded 10k-row batch (the reference's cap), alternating
  * `Ingest.bulkRandomInsert` with a JSON-lines upload (the same file each
  * time) through `Ingest.ingestJsonLines`; the step ends when both are
  * done. So every read runs beside one append, whatever the machine's
  * speed. After the tenth append the writer compacts the table
  * (`Maintenance.compactParquet`) while the pass's last request,
  * `popularBrands`, has listed the table and built its DataFrame but not
  * yet run its action: the read that spans the compaction swap. That read
  * fails with the current program (the swap deletes the files it listed),
  * on every pass, not by chance; its wait for the compaction is not part
  * of its latency.
  *
  * A read cannot be checked against a fixed answer while the table grows;
  * `popularBrands` is checked instead: its Σn must lie between the rows
  * committed when the read starts and the rows committed or being written
  * when it ends (an append's files are visible before its call returns). */
object IngestMixed {
  val batchRows = 10000
  val fullRows = 50000L
  val smokeRows = 1000L

  /** Data files of a parquet directory: (count, bytes). */
  def files(run: Main.Run, dir: String): (Int, Long) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(run.sc.hadoopConfiguration)
    val st = fs.listStatus(p).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    (st.length, st.map(_.getLen).sum)
  }

  private def copyDir(from: String, to: String): Unit = {
    val dst = java.nio.file.Paths.get(to)
    java.nio.file.Files.createDirectories(dst)
    java.nio.file.Files.list(java.nio.file.Paths.get(from)).forEach { f =>
      java.nio.file.Files.copy(f, dst.resolve(f.getFileName))
    }
  }

  def run(run: Main.Run): Unit = {
    val c = run.conf
    val sc = run.sc
    val dataDir = s"${c.out}/data"
    val table = s"$dataDir/car_data.parquet"
    val upload = s"$dataDir/upload.json"
    val rows0 = if (c.smoke) smokeRows else fullRows
    val batch = if (c.smoke) 100 else batchRows
    run.setup("input_s") = Dashboard.generate(run, dataDir, rows0)
    val t = run.now
    // the upload carries the API field names and the scalar columns a
    // tabular upload can hold; the two map columns arrive as nulls
    val api = CarSchema.fieldMapping.toMap
    CarDataGen.generate(run.spark, batch.toLong, c.seed * 1000 + 500)
      .select(CarSchema.schema.fields.toSeq.filterNot(_.dataType.isInstanceOf[MapType])
        .map(f => col(f.name).as(api.getOrElse(f.name, f.name))): _*)
      .write.mode("overwrite").json(upload)
    run.setup("uploads_s") = (run.now - t) / 1e9
    run.info("table_rows_start") = rows0
    run.info("batch_rows") = batch

    val committed = new AtomicLong(rows0) // rows whose append returned
    val reserved = new AtomicLong(rows0)  // plus rows of an append in flight
    var appends = 0
    def append(pass: Int, traced: Boolean): Unit = {
      val i = appends
      appends += 1
      val bulk = i % 2 == 0
      val rows = batch.toLong
      reserved.addAndGet(rows)
      val (f0, b0) = files(run, table)
      val rec = run.op("append", if (bulk) "bulkRandomInsert" else "ingestJsonLines", pass,
          traced, post = { o =>
        val (f1, b1) = files(run, table)
        o.copy(attrs = o.attrs ++ Map("append.index" -> i.toDouble,
          "ingest.files_written" -> (f1 - f0).toDouble,
          "ingest.bytes_written" -> (b1 - b0).toDouble))
      }) { _ =>
        val n = Trace.span(sc, "ingest.append", "append") {
          if (bulk) Ingest.bulkRandomInsert(run.spark, table, batch, c.seed * 1000 + i)
          else Ingest.ingestJsonLines(run.spark, upload, table)
        }
        ("", Map("ingest.rows" -> n.toDouble))
      }
      if (rec.error.isEmpty) committed.addAndGet(rows) else reserved.addAndGet(-rows)
    }
    def compact(pass: Int, traced: Boolean): Unit =
      run.op("compact", "compactParquet", pass, traced) { _ =>
        val r = Trace.span(sc, "maintenance.compact", "compact")(
          Maintenance.compactParquet(run.spark, table))
        ("", Map("maintenance.files_before" -> r.filesBefore.toDouble,
          "maintenance.files_after" -> r.filesAfter.toDouble,
          "maintenance.bytes_rewritten" -> r.bytes.toDouble))
      }

    val reqs = Dashboard.requests(c.seed)
    val (swapRead, stepReads) = reqs.partition(_.endpoint == "popularBrands")
    val nRe = "\"n\":(\\d+)".r
    /** One read; `swap` runs between its listing and its action, and its
      * time is kept as `swap_wait_s`, outside the read's latency. */
    def read(r: Dashboard.Req, pass: Int, traced: Boolean, swap: Option[() => Unit] = None): Unit = {
      val before = committed.get
      var waited = 0L
      run.op("read", r.key, pass, traced, post = { o =>
        val w = if (swap.isEmpty) o.attrs else o.attrs + ("swap_wait_s" -> waited / 1e9)
        o.copy(attrs = if (!w.contains("rows_seen")) w else w ++ Map(
          "committed_before" -> before.toDouble, "committed_after" -> reserved.get.toDouble))
      }) { _ =>
        val hook = swap.fold(() => ()) { s => () =>
          val t = run.now
          Trace.span(sc, "maintenance.swap_wait", "wait")(s())
          waited = run.now - t
        }
        val (env, a) = Dashboard.serve(run, dataDir, r, hook)
        ("", if (r.endpoint != "popularBrands") a
          else a + ("rows_seen" -> nRe.findAllMatchIn(env).map(_.group(1).toDouble).sum))
      }
    }

    val writer = java.util.concurrent.Executors.newSingleThreadExecutor { (r: Runnable) =>
      new Thread(r, "perfbench-writer")
    }
    def onWriter(body: => Unit): java.util.concurrent.Future[Unit] = {
      val task: java.util.concurrent.Callable[Unit] = () => body
      writer.submit(task)
    }
    try {
      // warm-up: one reader pass on the table as generated, its answers
      // kept for the DuckDB check together with a copy of that table, then
      // one append of each kind and a compaction
      val w = run.now
      Dashboard.warmup(run, dataDir, reqs)
      copyDir(table, s"${c.out}/initial/car_data.parquet")
      onWriter {
        append(-1, traced = false)
        append(-1, traced = false)
        compact(-1, traced = false)
      }.get()
      run.setup("warmup_s") = (run.now - w) / 1e9

      Main.passLoop(run) { (n, traced) =>
        val steps = Dashboard.pass(stepReads, c.seed, n)
        steps.zipWithIndex.foreach { case (r, i) =>
          val a = onWriter(append(n, traced(i)))
          try read(r, n, traced(i)) finally a.get()
        }
        run.sampleHeap() // the table at its most files, before the compaction
        swapRead.foreach(read(_, n, traced(steps.size),
          swap = Some(() => onWriter(compact(n, traced(steps.size))).get())))
        steps.size + swapRead.size
      }
    } finally {
      writer.shutdown()
      writer.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS)
    }
    val (nFiles, bytes) = files(run, table)
    run.info("table_rows_end") = committed.get
    run.info("table_files_end") = nFiles
    run.info("table_bytes_end") = bytes
  }
}
