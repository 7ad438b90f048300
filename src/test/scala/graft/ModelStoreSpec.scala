package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{ManifestLog, ModelStore}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The versioned model store: generations committed with ManifestLog's
  * marker protocol, loads cached by generation id, reclaim under the
  * reader grace. */
class ModelStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fs = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def fresh(prefix: String) = s"${prefix}_${System.nanoTime()}"

  /** Publish one part "p" holding `values`. */
  private def publish(name: String, values: Int*): ModelStore.Generation =
    ModelStore.publish(spark, name)(ModelStore.write(_, "p", values.toDF("v")))

  private val schema = new org.apache.spark.sql.types.StructType().add("v", "int")

  private def values(g: ModelStore.Generation): Seq[Int] =
    g.read(spark, "p", schema).as[Int].collect().toSeq.sorted

  test("re-publishing invalidates the cached load; the next load returns the new values") {
    val name = fresh("ms_cache")
    val reads = new AtomicInteger()
    def load() = ModelStore.load(spark, name, "p") { g => reads.incrementAndGet(); values(g) }
    publish(name, 1, 2)
    assert(load() == Seq(1, 2))
    assert(load() == Seq(1, 2) && reads.get == 1, "an unchanged generation must hit the cache")
    publish(name, 7)
    assert(load() == Seq(7) && reads.get == 2)
    assert(load() == Seq(7) && reads.get == 2)
    ModelStore.drop(spark, name)
  }

  test("a crash between the data write and the marker leaves the previous generation live") {
    val name = fresh("ms_crash")
    val g1 = publish(name, 1)
    // crash after the data write, before the marker
    val torn = ModelStore.stage(spark, name)
    ModelStore.write(torn, "p", Seq(2).toDF("v"))
    // crash in the middle of the write: one part landed, the next did not
    intercept[RuntimeException] {
      ModelStore.publish(spark, name) { g =>
        ModelStore.write(g, "p", Seq(3).toDF("v"))
        throw new RuntimeException("writer died")
      }
    }
    assert(ModelStore.current(spark, name) == g1)
    assert(ModelStore.load(spark, name, "p")(values) == Seq(1))
    // the retry needs no manual step: a fresh attempt of the same number
    val g2 = publish(name, 4)
    assert(g2.number == 2 && g2 != torn)
    assert(ModelStore.generations(spark, name) == Seq(g1, g2))
    assert(ModelStore.load(spark, name, "p")(values) == Seq(4))
    ModelStore.drop(spark, name)
  }

  test("two concurrent publishers of one generation: one winner, readers see whole generations") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val name = fresh("ms_race")
    publish(name, 0)
    val rows = 200
    // both stage before either commits, so both hold generation 2
    val a = ModelStore.stage(spark, name)
    val b = ModelStore.stage(spark, name)
    assert(a.number == 2 && b.number == 2 && a != b)
    def part(who: Int) = spark.range(rows).repartition(4)
      .select((col("id") * 10 + who).cast("int").as("v"))
    @volatile var done = false
    val seen = Future {
      var views = Vector.empty[Seq[Int]]
      while (!done) views :+= values(ModelStore.current(spark, name))
      views
    }
    val writers = Seq(a -> 1, b -> 2).map { case (g, who) =>
      Future {
        ModelStore.write(g, "p", part(who))
        ModelStore.write(g, "q", part(who))
        ModelStore.commit(spark, g)
      }
    }
    writers.foreach(Await.result(_, Duration.Inf))
    done = true
    val views = Await.result(seen, Duration.Inf)
    // every view is generation 1 or ONE publisher's complete part
    views.foreach { v =>
      assert(v == Seq(0) || (v.size == rows && v.map(_ % 10).distinct.size == 1),
        s"reader saw a partial or mixed generation: ${v.take(10)}… (${v.size} rows)")
    }
    val gens = ModelStore.generations(spark, name)
    assert(gens.map(_.number) == Seq(1, 2), "exactly one winner for generation 2")
    val winner = gens.last
    assert(winner == Seq(a, b).minBy(_.id), "ManifestLog's winner rule: smallest attempt")
    val who = if (winner == a) 1 else 2
    Seq("p", "q").foreach { p =>
      assert(winner.read(spark, p, schema).as[Int].collect().toSeq.sorted ==
        (0 until rows).map(_ * 10 + who))
    }
    ModelStore.drop(spark, name)
  }

  test("reclaim: superseded generations after the grace, never the newest, never foreign files") {
    val name = fresh("ms_reclaim")
    val root = ModelStore.root(spark, name)
    val g1 = publish(name, 1)
    val g2 = publish(name, 2)
    val crashed = ModelStore.stage(spark, name)
    ModelStore.write(crashed, "p", Seq(9).toDF("v"))
    val g3 = publish(name, 3)
    // files the store did not write, including look-alikes of its names
    val foreign = Seq(s"$root/README", s"$root/data/notes/x.parquet",
      s"$root/data/gen-5__not-an-attempt/x", s"$root/manifests/notes.txt",
      s"$root/manifests/gen-6__zz.manifest").map(new Path(_))
    foreign.foreach(fs.create(_, false).close())
    // every commit reclaimed with the default grace: nothing is old enough
    assert(Seq(g1, g2, g3).forall(g => fs.exists(new Path(g.partPath("p")))))
    assert(ModelStore.reclaim(spark, name, ManifestLog.DefaultGraceMs).isEmpty)
    // with the grace elapsed, everything but the newest generation goes
    val removed = ModelStore.reclaim(spark, name, -1L)
    assert(removed.toSet == Set(s"${g1.id}.manifest", s"${g2.id}.manifest",
      g1.id, g2.id, crashed.id))
    assert(ModelStore.generations(spark, name) == Seq(g3))
    assert(ModelStore.load(spark, name, "p")(values) == Seq(3))
    assert(ModelStore.reclaim(spark, name, -1L).isEmpty, "the newest is never reclaimed")
    assert(foreign.forall(fs.exists), "reclaim deleted a foreign file")
    // drop removes the store's own files and leaves foreign ones alone
    ModelStore.drop(spark, name)
    assert(ModelStore.generations(spark, name).isEmpty)
    assert(!fs.exists(new Path(g3.partPath("p"))))
    assert(foreign.forall(fs.exists), "drop deleted a foreign file")
    fs.delete(new Path(root), true)
  }
}
