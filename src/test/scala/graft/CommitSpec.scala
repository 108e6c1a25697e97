package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.util.control.NonFatal

import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.DedupIngest
import graft.io.Commit
import graft.ops.{Cdc, Similarity}
import graft.sinks.{AvroSink, Routing}
import graft.streaming.Telemetry

/** The crash matrix of `graft.io.Commit`: every operation, and every
  * caller, crashed at each of Commit's steps in turn through
  * [[CrashFileSystem]], then healed by the next call.
  */
class CommitSpec extends AnyFunSuite with SparkTestBase with BeforeAndAfterAll {
  import spark.implicits._

  override def beforeAll(): Unit = CrashFileSystem.install(spark)
  override def afterAll(): Unit = {
    CrashFileSystem.disarm()
    CrashFileSystem.uninstall(spark)
  }

  private def newRoot(tag: String): Path =
    new Path("crash://" + Files.createTempDirectory(tag).toString)

  private def fsOf(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def put(fs: FileSystem, p: Path, body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
  }

  private def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Every file under `p` by relative path, with its content; None
    * when `p` is absent. */
  private def tree(fs: FileSystem, p: Path): Option[Map[String, String]] =
    if (!fs.exists(p)) None
    else if (fs.getFileStatus(p).isFile) Some(Map("" -> read(fs, p)))
    else {
      def files(d: Path): Seq[Path] = fs.listStatus(d).toSeq.flatMap(st =>
        if (st.isDirectory) files(st.getPath) else Seq(st.getPath))
      Some(files(p).map(f =>
        f.toUri.getPath.stripPrefix(p.toUri.getPath) -> read(fs, f)).toMap)
    }

  /** Park and stage names left anywhere under `root`. */
  private def debris(root: Path): Seq[Path] = {
    val fs = fsOf(root)
    def walk(d: Path): Seq[Path] = fs.listStatus(d).toSeq.flatMap { st =>
      val n = st.getPath.getName
      val here =
        if (n.startsWith(".") && (n.endsWith(".old") || n.endsWith(".tmp")))
          Seq(st.getPath) else Nil
      here ++ (if (st.isDirectory) walk(st.getPath) else Nil)
    }
    walk(root)
  }

  /** Commit level: run `op` once cleanly to learn its step count and
    * its before/after trees, then for every step k and both failure
    * kinds (a `false` return, a crash) fail step k on a fresh copy:
    * `op` must throw; what a healing reader resolves for each of
    * `lives` (the live tree, else its park) must be wholly the old or
    * wholly the new tree; and `heal` must leave exactly that tree
    * live with no park. Returns the step count.
    */
  private def commitMatrix(lives: String*)(setup: (FileSystem, Path) => Unit)(
      op: (FileSystem, Path) => Unit): Int = {
    def fresh(): (FileSystem, Path) = {
      val root = newRoot("commit")
      val fs = fsOf(root)
      setup(fs, root)
      (fs, root)
    }
    def view(fs: FileSystem, root: Path) =
      lives.map(n => n -> tree(fs, new Path(root, n))).toMap
    val (fs0, root0) = fresh()
    val before = view(fs0, root0)
    val n = CrashFileSystem.count(op(fs0, root0))
    val after = view(fs0, root0)
    assert(n > 0 && before != after)
    for (k <- 1 to n; crash <- Seq(false, true)) {
      val (fs, root) = fresh()
      CrashFileSystem.arm(k, crash)
      intercept[java.io.IOException](op(fs, root))
      assert(CrashFileSystem.disarm(), s"step $k was not reached")
      lives.foreach { name =>
        val live = new Path(root, name)
        val seen = tree(fs, live).orElse(tree(fs, Commit.park(live)))
        assert(seen == before(name) || seen == after(name),
          s"step $k (crash=$crash): $name is neither old nor new: $seen")
        Commit.heal(fs, live)
        assert(!fs.exists(Commit.park(live)), s"step $k: park survived heal")
        assert(tree(fs, live) == seen, s"step $k: heal changed $name")
      }
    }
    n
  }

  test("writeFile over an existing file: old or new after a failure at any step") {
    assert(commitMatrix("f")((fs, r) => put(fs, new Path(r, "f"), "old")) { (fs, r) =>
      Commit.writeFile(fs, new Path(r, "f"), "test")(_.write("new".getBytes(UTF_8)))
    } == 3)
  }

  test("writeFile of a new file: absent or whole after a failure") {
    assert(commitMatrix("f")((_, _) => ()) { (fs, r) =>
      Commit.writeFile(fs, new Path(r, "f"), "test")(_.write("new".getBytes(UTF_8)))
    } == 1)
  }

  test("swap of a tree: never mixed, never lost") {
    assert(commitMatrix("t") { (fs, r) =>
      put(fs, new Path(r, "t/a"), "1"); put(fs, new Path(r, "t/b/c"), "2")
      put(fs, new Path(Commit.stage(new Path(r, "t")), "a"), "3")
    } { (fs, r) =>
      val t = new Path(r, "t")
      Commit.swap(fs, t, Commit.stage(t), "test")
    } == 3)
  }

  test("swap with an absent fresh tree replaces the live one with nothing") {
    assert(commitMatrix("t")((fs, r) => put(fs, new Path(r, "t/a"), "1")) { (fs, r) =>
      val t = new Path(r, "t")
      Commit.swap(fs, t, Commit.stage(t), "test")
    } == 2)
  }

  test("swap onto an absent live tree promotes the fresh one") {
    assert(commitMatrix("t") { (fs, r) =>
      put(fs, new Path(Commit.stage(new Path(r, "t")), "a"), "1")
    } { (fs, r) =>
      val t = new Path(r, "t")
      Commit.swap(fs, t, Commit.stage(t), "test")
    } == 1)
  }

  test("healChildren: interrupted swaps roll back, completed ones drop the park, stages go") {
    assert(commitMatrix("x", "y") { (fs, r) =>
      put(fs, new Path(Commit.park(new Path(r, "x")), "a"), "old-x")
      put(fs, new Path(r, "y/a"), "new-y")
      put(fs, new Path(Commit.park(new Path(r, "y")), "a"), "old-y")
      put(fs, new Path(Commit.stage(new Path(r, "z")), "a"), "abandoned")
    } { (fs, r) =>
      Commit.healChildren(fs, r, "test")
      assert(debris(r).isEmpty)
    } == 3)
  }

  /** Caller level: run `call` cleanly and record `state`; then crash
    * `call` at its 1st, 2nd, … Commit step until a run reaches no
    * more steps. After each crash the next call must heal, leave no
    * park or stage under `root`, and give the same `state`.
    * `afterCrash(k)` inspects the torn state left by a crash at step
    * k. Returns the number of steps crashed.
    */
  private def crashEachStep(root: Path)(call: => Any)(state: => Any)(
      afterCrash: Int => Unit = _ => ()): Int = {
    call
    val expected = state
    var k = 0
    var fired = true
    while (fired) {
      k += 1
      CrashFileSystem.arm(k, crash = true)
      val threw = try { call; false } catch { case NonFatal(_) => true }
      fired = CrashFileSystem.disarm()
      assert(threw == fired, s"step $k: a crash must surface, and only a crash")
      if (fired) afterCrash(k)
      call
      assert(debris(root).isEmpty, s"step $k: leftovers ${debris(root)}")
      assert(state == expected, s"step $k: the healed call's result differs")
    }
    k - 1
  }

  test("Routing.compact: a crash at any step heals on the next compact") {
    val root = newRoot("routing")
    val out = new Path(root, "out")
    (1 to 40).map(i => (i.toLong, s"c${i % 2}", s"v$i")).toDF("id", "coin", "v")
      .repartition(4).write.partitionBy("coin").parquet(out.toString)
    def rows = spark.read.parquet(out.toString).select("id", "coin", "v")
      .as[(Long, String, String)].collect().sorted.toSeq
    val before = rows
    val steps = crashEachStep(root)(Routing.compact(spark, out.toString))(rows) { k =>
      // between park and promote the live dir is gone: unhealed, the
      // next compact fails listing it, and every reader with it
      if (k == 2) assert(!fsOf(out).exists(out))
    }
    assert(steps == 3)
    assert(rows == before)
  }

  test("Telemetry.compact: a crash at any step heals on the next fold") {
    val root = newRoot("telemetry")
    val out = new Path(root, "t")
    (1 to 12).map(i => ("q", i.toLong, s"2026-01-01T00:00:${10 + i}.000Z", i * 10L))
      .toDF("query_name", "batch_id", "batch_ts", "batch_duration_ms")
      .repartition(3).write.partitionBy("query_name").parquet(out.toString)
    def rows = spark.read.parquet(out.toString)
      .select("query_name", "batch_id", "batch_ts", "batch_duration_ms")
      .as[(String, Long, String, Long)].collect().sorted.toSeq
    val before = rows
    assert(crashEachStep(root)(Telemetry.compact(spark, out.toString, maxFiles = 0))(
      rows)() == 3)
    assert(rows == before)
  }

  test("Cdc.mergeBatch: a crash at any bucket-swap step heals on the replayed merge") {
    val root = newRoot("cdc")
    val path = new Path(root, "snap").toString
    def merge(rows: Seq[(Long, Long, String, Double)]): Unit =
      Cdc.mergeBatch(rows.toDF("key", "seq", "op", "v"), path,
        col("key"), col("seq"), col("op"), "D", Seq("v" -> col("v")), 1)
    merge((1L to 6L).map(k => (k, 1L, "U", k * 10.0)))
    def snap = Cdc.snapshot(spark, path).select("k", "last_seq", "v")
      .as[(Long, Long, Double)].collect().sorted.toSeq
    val batch = Seq((2L, 2L, "U", 21.0), (3L, 2L, "D", 0.0), (7L, 1L, "U", 70.0))
    assert(crashEachStep(root)(merge(batch))(snap)() == 3)
    assert(snap.map(_._1) == Seq(1L, 2L, 4L, 5L, 6L, 7L))
  }

  test("DedupIngest: a crash at any step of the blob commit heals on the replayed trigger") {
    val root = newRoot("dedup")
    val (dir, cp) = (s"$root/corpus", s"$root/cp")
    def admit(id: Long, rows: Seq[(Long, String)]): Long =
      DedupIngest.admitBatchIncremental(spark, rows.toDF("doc_id", "text"),
        dir, cp, batchId = id, key = "text", tiebreaker = "doc_id", runTag = "t")
    assert(admit(0L, Seq((0L, "a"), (1L, "b"))) == 2L)
    var admitted = -1L
    def state = (admitted,
      spark.read.parquet(dir).select("doc_id", "text").as[(Long, String)]
        .collect().sorted.toSeq,
      tree(fsOf(root), new Path(s"$cp/graft-bloom/bloom-t-1")).map(_.hashCode))
    // the first run writes a new blob (one step); every replay
    // replaces it (park, promote, delete park)
    assert(crashEachStep(root) {
      admitted = admit(1L, Seq((2L, "a"), (3L, "c")))
    }(state)() == 3)
    assert(admitted == 1L)
  }

  test("compactIndex: a crash at any step of its three swaps heals on the next compaction") {
    val root = newRoot("index")
    val dir = s"$root/idx"
    val rnd = new scala.util.Random(5)
    def vecs(ids: Range) = ids.map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    Similarity.buildIvfIndex(vecs(0 until 30), dir, nlist = 4)
    Similarity.appendToIvfIndex(spark, dir, vecs(30 until 40), seg = Some("s1"))
    Similarity.deleteFromIndex(spark, dir, Seq(3L, 33L).toDF("vec_id"))
    val fs = fsOf(root)
    def state = (
      spark.read.parquet(dir).select("c_id", "seg", "cell")
        .as[(Long, String, Int)].collect().sorted.toSeq,
      tree(fs, new Path(dir + "_centroids")).map(_.keySet),
      spark.read.parquet(dir + "_tombstones").select("c_id").as[Long].collect().sorted.toSeq)
    // data tree, centroids, tombstone shrink: three steps each
    assert(crashEachStep(root)(Similarity.compactIndex(spark, dir, keepSeg = Some("s1")))(
      state) { k =>
      // parked data tree: unhealed, the next compaction refuses it as torn
      if (k == 2) assert(!fs.exists(new Path(dir)))
    } == 9)
    val (rows, _, tomb) = state
    assert(rows.map(_._1).toSet == (0L until 40L).toSet - 3L)
    assert(tomb == Seq(33L))
  }

  test("AvroSink.write: a crash at the file commit leaves no visible file") {
    val df = Seq(("BTC", 1L), ("ETH", 2L)).toDF("coin", "ts").coalesce(1)
    def records(dir: Path): Seq[(String, Long)] = {
      val fs = fsOf(dir)
      fs.listStatus(dir).toSeq.map(_.getPath).filterNot(_.getName.startsWith("."))
        .flatMap { f =>
          val r = new DataFileStream(fs.open(f), new GenericDatumReader[GenericRecord]())
          try {
            val b = Seq.newBuilder[(String, Long)]
            while (r.hasNext) {
              val rec = r.next()
              b += ((rec.get("coin").toString, rec.get("ts").asInstanceOf[Long]))
            }
            b.result()
          } finally r.close()
        }.sorted
    }
    val dir = new Path(newRoot("avro"), "out")
    assert(CrashFileSystem.count(AvroSink.write(df, dir.toString)) == 1)
    val once = records(dir)
    assert(once == Seq(("BTC", 1L), ("ETH", 2L)))
    val dir2 = new Path(newRoot("avro"), "out")
    CrashFileSystem.arm(1, crash = true)
    intercept[Exception](AvroSink.write(df, dir2.toString))
    assert(CrashFileSystem.disarm())
    assert(records(dir2).isEmpty)
    AvroSink.write(df, dir2.toString)
    assert(records(dir2) == once)
  }
}
