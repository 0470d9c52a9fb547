package graft.catalog

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase
import graft.model.{ApprovalEvent, FileEvent}
import graft.notify.InMemoryNotifier
import graft.pipeline.Pipeline

/** Model-based check of key resolution: random sequences of approved
  * insert, update and delete files (with keys repeated inside a file and
  * null keys), delete jobs, folds and redeliveries run through the
  * pipeline against a keyed table, and after every step the table equals
  * an in-memory model of the reference's sequential SQL, as a multiset
  * of rows. Every intermediate version reads back, by time travel, as
  * the model stood at its step; a fold changes no row; and a point read
  * equals the filtered table read. Raw ScalaCheck generators with fixed
  * seeds, as in MutationPropertiesSpec.
  */
class KeyResolutionPropertiesSpec extends SparkTestBase {
  import spark.implicits._

  private sealed trait Cmd
  private final case class Write(op: String, rows: List[(String, String)]) extends Cmd
  private case object DeleteJob extends Cmd
  private case object Fold extends Cmd
  private case object Redeliver extends Cmd

  private val liveKey: Gen[String] = Gen.chooseNum(0, 4).map(i => s"k$i")
  // an empty CSV field reads as a null key
  private val keyGen: Gen[String] = Gen.frequency(9 -> liveKey, 1 -> Gen.const(""))
  private def rowsGen(keys: Gen[String]): Gen[List[(String, String)]] = for {
    n <- Gen.chooseNum(1, 5)
    rows <- Gen.listOfN(n, Gen.zip(keys, Gen.alphaNumChar.map(c => s"v$c")))
  } yield rows
  private val cmdGen: Gen[Cmd] = Gen.frequency(
    4 -> rowsGen(keyGen).map(Write("insert", _)),
    4 -> rowsGen(keyGen).map(Write("update", _)),
    2 -> rowsGen(liveKey).map(Write("delete", _)),
    2 -> Gen.const(DeleteJob),
    1 -> Gen.const(Fold),
    1 -> Gen.const(Redeliver))

  private type Rows = Map[(Option[String], String), Int]
  private def counts(rows: Seq[(Option[String], String)]): Rows =
    rows.groupBy(identity).map { case (r, rs) => r -> rs.size }

  /** Runs one command sequence on a fresh table keyed on `k`, bucketed
    * into `buckets` when given, and checks it step by step.
    */
  private def check(seed: Long, buckets: Option[Int]): Unit = {
    // every sequence opens with two inserts of a key the base lacks:
    // the first one must win, whatever follows
    val cmds = Write("insert", List("k4" -> "vA")) :: Write("insert", List("k4" -> "vB")) ::
      Gen.listOfN(12, cmdGen).pureApply(Gen.Parameters.default, Seed(seed))
    val (root, landing) = (tmpDir("keymodel"), tmpDir("keylanding"))
    val cat = new Catalog(spark, root, graceVersions = 1000)
    val p = new Pipeline(spark, cat, new InMemoryNotifier, landing)
    // the base holds a duplicated key, which a later update or delete
    // replaces or removes as a whole
    val base = Seq(("k0", "b0"), ("k1", "b1"), ("k1", "b1x"), ("k3", "b3"))
    cat.createIfAbsent("t", cat.allStringSchema(Seq("k", "v")), Seq("k"))
    buckets match {
      case Some(n) =>
        cat.registerBucketLayout("t", n)
        cat.overwriteAllBuckets("t", base.toDF("k", "v"))
      case None => cat.overwrite("t", base.toDF("k", "v"))
    }
    val model = mutable.ArrayBuffer.from(base.map { case (k, v) => (Option(k), v) })
    val pending = mutable.LinkedHashSet.empty[String]
    val snapshots = mutable.ArrayBuffer(cat.currentVersion("t") -> counts(model.toSeq))
    val approved = mutable.ArrayBuffer.empty[ApprovalEvent]
    def table(): Rows = counts(cat.read("t").as[(Option[String], String)].collect().toSeq)

    cmds.zipWithIndex.foreach { case (cmd, i) =>
      val before = table()
      cmd match {
        case Write(op, rows) =>
          val id = s"e$seed-$i"
          val header = if (op == "delete") "k" else "k,v"
          val body = rows.map { case (k, v) => if (op == "delete") k else s"$k,$v" }
          val f = Paths.get(landing, "b1", op, "t.csv")
          Files.createDirectories(f.getParent)
          Files.writeString(f, (header +: body).mkString("", "\n", "\n"))
          p.registerArrival(FileEvent("b1", s"$op/t.csv", id))
          val ev = ApprovalEvent(id, "approve", s"$op/t.csv", "t", op, "b1",
            Some(1L), None, Some("2026-01-02T03:04:05Z"), None)
          p.processApproval(ev)
          approved += ev
          // the reference's statements, one row at a time in file order
          val keyed = rows.map { case (k, v) => (Option(k).filter(_.nonEmpty), v) }
          op match {
            case "insert" =>
              keyed.groupBy(_._1).values.map(_.head).foreach { case r @ (k, _) =>
                if (k.isEmpty || !model.exists(_._1 == k)) model += r }
            case "update" =>
              keyed.groupBy(_._1).values.map(_.last).foreach { case r @ (k, _) =>
                if (k.nonEmpty) model.filterInPlace(_._1 != k)
                model += r }
            case "delete" => pending ++= keyed.flatMap(_._1)
          }
        case DeleteJob =>
          p.executePendingDeletes()
          model.filterInPlace(r => !r._1.exists(pending))
          pending.clear()
        case Fold =>
          cat.fold("t")
          assert(cat.fragments("t").isEmpty)
          assert(table() == before, s"seed $seed step $i: the fold changed rows")
        case Redeliver =>
          approved.lastOption.foreach(p.processApproval)
          assert(table() == before, s"seed $seed step $i: a redelivery changed rows")
      }
      val want = counts(model.toSeq)
      assert(table() == want, s"seed $seed step $i ($cmd)")
      snapshots += cat.currentVersion("t") -> want
      // a point read resolves the key's bucket alone; it equals the
      // filtered table read
      val k = s"k${i % 5}"
      assert(cat.lookupByPk("t", Seq(k)).as[(Option[String], String)].collect().sorted.toSeq ==
        cat.read("t").filter(col("k") === k).as[(Option[String], String)].collect().sorted.toSeq,
        s"seed $seed step $i: lookupByPk($k)")
    }
    snapshots.foreach { case (v, want) =>
      assert(counts(cat.readVersion("t", v).as[(Option[String], String)].collect().toSeq) == want,
        s"seed $seed: version $v")
    }
    assert(cat.fragments("t").size <= Catalog.MaxFragments)
  }

  test("model: key resolution on a 2-bucket table equals sequential SQL at every step") {
    Seq(11L, 12L).foreach(check(_, Some(2)))
  }

  test("model: key resolution on a keyed table with no layout equals sequential SQL at every step") {
    Seq(21L, 22L).foreach(check(_, None))
  }
}
