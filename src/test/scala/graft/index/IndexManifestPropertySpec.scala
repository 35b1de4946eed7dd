package graft.index

import graft.{SparkSpec, TempDirs}
import org.scalacheck.{Gen, Test => SCTest}
import org.scalacheck.Prop.forAll

/** Model-based property check of the manifest protocol: a random
  * interleaving of lifecycle operations (append / compact / vacuum /
  * crashed-writer orphan) is replayed against an in-memory model of the
  * expected table contents; after EVERY step the committed read must
  * equal the model, and historical versions must stay readable until a
  * vacuum reclaims them. Case counts are small — each op runs Spark
  * jobs — but the generator covers interleavings the fixture specs
  * can't enumerate. */
class IndexManifestPropertySpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(6)

  sealed trait Op
  case object Append extends Op
  case object Compact extends Op
  case object Vacuum extends Op
  case object Orphan extends Op // crashed writer: staged segment, no commit

  private val opGen: Gen[List[Op]] =
    Gen.listOfN(6, Gen.frequency(
      4 -> Gen.const(Append), 2 -> Gen.const(Compact),
      1 -> Gen.const(Vacuum), 2 -> Gen.const(Orphan)))

  test("LAW: any append/compact/vacuum/orphan interleaving matches the model") {
    val prop = forAll(opGen) { ops =>
      val root = tempDir("graft_mprop_")
      // model: the set of ids the committed table must contain
      var model = Set(0L)
      val seg0 = IndexManifest.newSegment("t")
      Seq(0L).toDF("id").write.parquet(s"$root/$seg0")
      IndexManifest.commit(spark, root, Map("t" -> Seq(seg0)))
      var nextId = 1L
      var vacuumedBelow = 1L // versions < this may be unreadable

      def committedIds(): Set[Long] =
        IndexManifest.read(spark, root, "t").select("id").as[Long].collect().toSet

      val stepResults = ops.map { op =>
        op match {
          case Append =>
            val snap = IndexManifest.snapshot(spark, root)
            val seg = IndexManifest.newSegment("t")
            Seq(nextId).toDF("id").write.parquet(s"$root/$seg")
            IndexManifest.commit(spark, root,
              snap.tables.updated("t", snap.tables("t") :+ seg),
              expect = Some(snap.version))
            model += nextId; nextId += 1
          case Compact =>
            val snap = IndexManifest.snapshot(spark, root)
            val seg = IndexManifest.newSegment("t")
            IndexManifest.readAt(spark, root, snap, "t").distinct()
              .write.parquet(s"$root/$seg")
            IndexManifest.commit(spark, root,
              snap.tables.updated("t", Seq(seg)), expect = Some(snap.version))
          case Vacuum =>
            IndexManifest.vacuum(spark, root)
            vacuumedBelow = IndexManifest.currentVersion(spark, root)
          case Orphan =>
            Seq(99999L).toDF("id")
              .write.parquet(s"$root/${IndexManifest.newSegment("t")}")
        }
        committedIds() == model
      }
      // historical versions still committed (>= last vacuum) re-resolve
      val v = IndexManifest.currentVersion(spark, root)
      val history = (math.max(1L, vacuumedBelow) to v).forall { hv =>
        IndexManifest.snapshotAt(spark, root, hv).version == hv
      }
      stepResults.forall(identity) && history && committedIds() == model
    }
    assert(SCTest.check(params, prop).passed)
  }
}
