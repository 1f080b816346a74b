package graft

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, FilterFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame

import graft.sources.Sinks
import graft.streaming.{CorpusStream, DimSync}

private class Crash extends RuntimeException("injected crash")

/** The local file system with one injected crash: the `failAt`-th
  * create, rename or delete throws, either before it takes effect or,
  * with `after`, once it has (the process dies before its caller sees
  * the result; a created file is left closed and empty). */
private class FaultyFs(failAt: Int, after: Boolean)
    extends FilterFileSystem(FileSystem.getLocal(new Configuration())) {
  private var ops = 0
  private def step[T](op: => T)(undo: T => Unit): T = {
    ops += 1
    if (ops != failAt) op
    else if (!after) throw new Crash
    else { undo(op); throw new Crash }
  }
  override def create(f: Path, perm: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    step(super.create(f, perm, overwrite, bufferSize, replication,
      blockSize, progress))(_.close())
  override def rename(src: Path, dst: Path): Boolean =
    step(super.rename(src, dst))(_ => ())
  override def delete(f: Path, recursive: Boolean): Boolean =
    step(super.delete(f, recursive))(_ => ())
}

/** Every crash point of the rename-based commit primitives: the verified
  * directory swap (`Sinks.swap`), the version-slot commit
  * (`DimSync.commitVersion`) and the small-file writer. For each N the
  * primitive runs on fresh state with its Nth file-system mutation
  * crashing; the caller's next pass then runs, and readers must see
  * exactly the old contents or the new ones, with no staging left.
  * `CorpusStream.ingestBatch` writes its delta straight into its slot
  * with a Spark job, so its crash states are built by hand instead: one
  * after each driver-side commit step. */
class CrashPointSpec extends SparkSpec {

  private val local = FileSystem.getLocal(new Configuration())

  private def put(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def read(p: Path): Option[String] = Sinks.readSmallFile(local, p)

  private def names(dir: Path): Seq[String] =
    local.listStatus(dir).map(_.getPath.getName).toSeq.sorted

  /** Runs `attempt` on `fresh()` state with the Nth create/rename/delete
    * crashing, before and after it takes effect, for N = 1, 2, … until
    * an attempt runs to the end; `check(state, crashed)` follows each
    * attempt. Returns the number of crash points tried. */
  private def everyCrashPoint[T](fresh: () => T)(attempt: (FileSystem, T) => Unit)(
      check: (T, Boolean) => Unit): Int = {
    var n = 0
    var finished = false
    while (!finished) {
      n += 1
      for (after <- Seq(false, true)) {
        val state = fresh()
        val crashed =
          try { attempt(new FaultyFs(n, after), state); false }
          catch { case _: Crash => true }
        withClue(s"crash at mutation $n (after=$after): ")(check(state, crashed))
        finished ||= !crashed
      }
    }
    n - 1
  }

  test("Sinks.swap: every crash point ends on the old contents or the new ones, staging gone") {
    def rewrite(fs: FileSystem, target: Path): Unit =
      Sinks.swap(fs, target) { fresh =>
        put(fs, new Path(fresh, "part-0"), "new")
        require(Sinks.readSmallFile(fs, new Path(fresh, "part-0")).contains("new"))
      }
    val points = everyCrashPoint { () =>
      val target = new Path(Files.createTempDirectory("graft_swap").toString, "t")
      put(local, new Path(target, "part-0"), "old")
      target
    }(rewrite) { (target, crashed) =>
      val seen = read(new Path(target, "part-0"))
      // None only inside the documented window between the two renames
      assert(Set[Option[String]](Some("old"), Some("new"), None)(seen))
      if (!crashed) assert(seen.contains("new"))
      // the next pass first finishes the swap: a present target is
      // untouched, a missing one gets the rewrite (marked ready before
      // the first rename)
      Sinks.finishSwap(local, target)
      assert(read(new Path(target, "part-0")) == seen.orElse(Some("new")))
      assert(names(target) == Seq("part-0"))
      assert(names(target.getParent) == Seq("t"), "no staging may be left")
      // and the caller's full retry converges on the rewrite
      rewrite(local, target)
      assert(read(new Path(target, "part-0")).contains("new"))
      assert(names(target.getParent) == Seq("t"))
    }
    // stage's create, ready marker, two renames, two staging deletes
    assert(points == 6)
  }

  test("DimSync.commitVersion: every crash point keeps the previous version serving until a retry commits") {
    def write(fs: FileSystem, dir: Path, text: String): Unit = {
      put(fs, new Path(dir, "part-0"), text)
      Sinks.writeSmallFile(fs, new Path(dir, "_SUCCESS"), "")
    }
    // `deadSlot`: v1 is occupied by a marker-less crash artifact of the
    // pre-staging protocol, which the commit sweeps before its rename
    for (deadSlot <- Seq(false, true)) {
      val points = everyCrashPoint { () =>
        val root = new Path(Files.createTempDirectory("graft_slots").toString, "dim")
        DimSync.commitVersion(local, root, 0, "_SUCCESS")(write(local, _, "old"))
        if (deadSlot) put(local, new Path(root, "v1/part-0"), "dead")
        root
      } { (fs, root) =>
        DimSync.commitVersion(fs, root, 1, "_SUCCESS")(write(fs, _, "new"))
      } { (root, crashed) =>
        def served = DimSync.latestVersion(spark, root.toString)
          .flatMap(v => read(new Path(root, s"v$v/part-0")))
        assert(Set[Option[String]](Some("old"), Some("new"))(served))
        if (!crashed) assert(served.contains("new"))
        // the caller's next pass: retry against the re-read head, vacuum
        if (served.contains("old"))
          DimSync.commitVersion(local, root, 1, "_SUCCESS")(write(local, _, "new"))
        DimSync.vacuum(spark, root.toString, keep = 2)
        assert(served.contains("new"))
        assert(read(new Path(root, "v0/part-0")).contains("old"))
        assert(names(root) == Seq("v0", "v1"), "no staging may be left")
      }
      // data create, marker create + rename, commit rename; + slot sweep
      assert(points == (if (deadSlot) 5 else 4), s"deadSlot=$deadSlot")
    }
  }

  test("Sinks.writeSmallFile: every crash point leaves no file or the whole one; the bucket marker is stamped once") {
    val points = everyCrashPoint { () =>
      new Path(Files.createTempDirectory("graft_small").toString, "_graft_buckets")
    }(Sinks.writeSmallFile(_, _, "64")) { (p, crashed) =>
      val seen = read(p)
      assert(seen.isEmpty || seen.contains("64"))
      if (!crashed) assert(seen.contains("64"))
      if (seen.isEmpty) Sinks.writeSmallFile(local, p, "64") // next pass
      assert(read(p).contains("64"))
      assert(names(p.getParent) == Seq(p.getName), "no temp may be left")
      // ingest restamps the marker on every batch: a present marker is
      // never rewritten, so no crash can tear the live one
      CorpusStream.writeBucketMarker(spark, p.getParent.toString, 16)
      assert(CorpusStream.storeBuckets(spark, p.getParent.toString) == 64)
    }
    assert(points == 2) // temp create, rename
  }

  test("CorpusStream.ingestBatch: a crash after each commit step replays to the uncrashed store and index") {
    import org.apache.commons.io.FileUtils
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // (writer, batchId, every gate on, rows): two gated batches of one
    // writer, then an exact-only writer on the same index
    val batches = Seq(
      ("w", 0L, true, Seq((1L, body, "agg"),
        (2L, "one two three four five six seven eight nine ten", "wire"))),
      ("w", 1L, true, Seq((3L, body.replace("kappa", "lambda"), "wire"), // near-dup of 1
        (4L, "a fresh third document body with plenty of distinct tokens in it", "misc"))),
      ("x", 0L, false, Seq((5L, body, "misc"), // exact dup of 1
        (6L, "the exact-only writer lands one more novel accepted document body", "misc"))))
    def ingest(dir: File, k: Int): Unit = {
      val (writer, id, gates, rows) = batches(k)
      CorpusStream.ingestBatch(spark, s"$dir/idx", s"$dir/out", writer, nearDup = gates,
        spanGate = gates, containGate = gates, syndGate = gates)(
        rows.toDF("doc_id", "text", "source"), id)
    }
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def snapshot(dir: File) = Seq(
      rows(spark.read.parquet(s"$dir/out").select("writer", "batch", "doc_id", "text_fp")),
      rows(CorpusStream.readIndex(spark, s"$dir/idx")),
      rows(CorpusStream.readBandIndex(spark, s"$dir/idx")),
      rows(CorpusStream.readSpanIndex(spark, s"$dir/idx")),
      rows(CorpusStream.readContainIndex(spark, s"$dir/idx")))
    def deltaDirs(dir: File) = new File(s"$dir/idx").listFiles().filter(_.isDirectory).toSeq
    def deltaDir(dir: File, k: Int) =
      deltaDirs(dir).filter(_.getName.endsWith(s"_${batches(k)._1}_b${batches(k)._2}")).head

    // the uncrashed run, with a copy of its state after each batch
    val root = Files.createTempDirectory("graft_ingest_crash").toFile
    val ref = new File(root, "ref")
    val after = batches.indices.map { k =>
      ingest(ref, k)
      val copy = new File(root, s"after$k")
      FileUtils.copyDirectory(ref, copy)
      copy
    }
    val want = snapshot(ref)
    assert(spark.read.parquet(s"$ref/out").select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 4L, 6L), "the near-dup and the exact dup must be rejected")
    assert(want.forall(_.nonEmpty), "every reader must see rows")

    // every delta, gated or exact-only, is written in the one delta format
    val parts = deltaDirs(ref).flatMap(_.listFiles()).filter(_.getName.startsWith("part-"))
    assert(deltaDirs(ref).size == 3 && parts.nonEmpty)
    for (f <- parts) {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(f.toString), spark.sparkContext.hadoopConfiguration))
      val cols = try reader.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName)
        finally reader.close()
      assert(cols == CorpusStream.FullDeltaSchema.fieldNames.toSeq,
        s"${f.getParentFile.getName}/${f.getName}")
    }

    // the state a crash leaves right after each driver-side step of batch k
    val crashes = Seq[(String, (File, Int) => Unit)](
      "store batch written" -> { (dir, k) =>
        FileUtils.deleteDirectory(deltaDir(dir, k))
        // the first batch is the one that stamps the bucket marker
        if (k == 0) new File(s"$dir/out").listFiles()
          .filter(_.getName.contains("_graft_buckets")).foreach(f => assert(f.delete()))
      },
      "bucket marker stamped" -> { (dir, k) => FileUtils.deleteDirectory(deltaDir(dir, k)) },
      "partial delta dir" -> { (dir, k) =>
        val d = deltaDir(dir, k)
        d.listFiles().filter(_.getName.contains("_SUCCESS")).foreach(f => assert(f.delete()))
        d.listFiles().filter(_.getName.startsWith("part-")).take(1).foreach(f => assert(f.delete()))
        assert(new File(d, "_temporary/0").mkdirs())
      },
      "delta committed" -> { (_, _) => () })
    for (k <- batches.indices; (step, crash) <- crashes)
      withClue(s"batch $k, crash after '$step': ") {
        val dir = new File(root, s"crash$k-${step.replace(' ', '_')}")
        FileUtils.copyDirectory(after(k), dir)
        crash(dir, k)
        (k until batches.size).foreach(ingest(dir, _)) // replay k, then the rest
        assert(snapshot(dir) == want)
        assert(deltaDirs(dir).forall(d => new File(d, "_SUCCESS").exists),
          s"a partial delta dir is left: ${deltaDirs(dir).map(_.getName)}")
        assert(!Files.walk(dir.toPath).iterator().asScala.exists(_.getFileName.toString == "_temporary"))
      }
    FileUtils.deleteQuietly(root)
  }
}
