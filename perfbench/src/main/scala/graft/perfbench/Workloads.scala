package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Queries
import graft.operators.{Incremental, Retrieval}

/** An output the benchmark checks: row count plus the order-independent
  * digest of its rows, under the reference name it must match. */
final case class Check(ref: String, rows: Long, digest: String)

/** Order-independent frame digest: row count and the exact sum of
  * `xxhash64` over every column of every row. Map columns are hashed as
  * their sorted entry arrays (Spark refuses to hash maps directly). */
object Digest {
  private def norm(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  def frame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    named.agg(count(lit(1)).as("n"),
      coalesce(sum(xxhash64(cols: _*).cast(DecimalType(38, 0))),
        lit(BigDecimal(0)).cast(DecimalType(38, 0))).as("h"))
  }

  def of(df: DataFrame): (Long, String, org.apache.spark.sql.execution.QueryExecution) = {
    val d = frame(df)
    val r = d.collect()(0)
    (r.getLong(0), r.getDecimal(1).toPlainString, d.queryExecution)
  }
}

/** Times the two halves of one key/op: `build` is plan construction
  * (including any eager cuts and driver folds graft runs while building),
  * `exec` is the action that materializes the result. With `fingerprint`
  * (traced passes) each digested result's executed plan is fingerprinted. */
final class OpTimer(fingerprint: Boolean) {
  var buildNs = 0L
  var execNs = 0L
  var spans = Vector.empty[(String, Long, Long)] // (build|execute, start ms, end ms)
  var planFp: Option[String] = None
  private def timed[A](kind: String, f: => A, add: Long => Unit): A = {
    val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    try f finally {
      add(System.nanoTime() - t0)
      spans :+= ((kind, w0, System.currentTimeMillis()))
    }
  }
  def build[A](f: => A): A = timed("build", f, buildNs += _)
  def exec[A](f: => A): A = timed("execute", f, execNs += _)

  /** Materialize `df` as its digest, timed as the execute half. */
  def digest(ref: String, df: DataFrame): Check = {
    val (n, h, qe) = exec(Digest.of(df))
    if (fingerprint) planFp = Some(graft.PlanCapture.fingerprint(qe)._1)
    Check(ref, n, h)
  }
}

/** One named step of a pass. Catalog keys are independent; state ops run
  * in their family's order, each reading the version its predecessor
  * published. `family` groups ops whose relative order is fixed. */
final case class Op(name: String, family: String, run: OpTimer => Seq[Check])

/** The ops a pass runs: catalog keys (named by `run.py`) or the
  * persisted-state lifecycle. */
object Workloads {

  def keyOp(spark: SparkSession, dir: String, key: String): Op =
    Op(key, key, t => Seq(t.digest(key, t.build(Queries.production(key)(spark, dir)))))

  /** The persisted-state lifecycle: the d17/e16 composed history run
    * through on-disk state. The cold pass (`cold`) builds the two base
    * versions under `base` and nothing else; every warm pass then runs the
    * per-batch operations in its own fresh directory `root`, starting from
    * them, postings before groups: on a 4-core host `groups_append1`
    * measured 3.4–4.0 s as the first op of a settled pass and 2.1–2.4 s
    * after the postings ops, so a fixed order keeps that step out of the
    * spread between seeds.
    * Groups: append₁ → delete → append₂, each reading the version its
    * predecessor published and publishing a new one, then the final
    * labels resolved (checked against d17). Postings (`root/postings`
    * starts as a copy of the base version): append₁, delete, append₂, a
    * query, compaction, and the query again (both queries checked against
    * e16). `onPublish` runs after each publishing op, outside its timing. */
  def stateOps(spark: SparkSession, dir: String, base: String, root: String,
               cold: Boolean, onPublish: String => Unit): Seq[Op] = {
    lazy val slices = Incremental.composedSliceInputs(spark, dir)
    lazy val docSlices = Incremental.composedDocSlices(spark, dir)
    val g = s"$root/groups"
    val p = s"$root/postings"
    def rd(v: String) = Incremental.readGroupLifecycle(spark, v)
    def publish(t: OpTimer, name: String)(f: => Unit): Seq[Check] = {
      t.exec(f); onPublish(name); Nil
    }
    val groupsBase = Op("groups_base", "groups", t => {
      val st = t.build(Incremental.groupLifecycleOf(spark, slices._1))
      publish(t, "groups_base")(Incremental.writeGroupLifecycle(st, s"$base/groups_v0"))
    })
    val groups = Seq(
      Op("groups_append1", "groups", t => {
        val st = t.build(Incremental.appendGroupLifecycle(
          spark, rd(s"$base/groups_v0"), slices._2._1, slices._2._2))
        publish(t, "groups_append1")(Incremental.writeGroupLifecycle(st, s"$g/v1"))
      }),
      Op("groups_delete", "groups", t => {
        val st = t.build(Incremental.deleteGroupLifecycle(spark, rd(s"$g/v1"), slices._3))
        publish(t, "groups_delete")(Incremental.writeGroupLifecycle(st, s"$g/v2"))
      }),
      Op("groups_append2", "groups", t => {
        val st = t.build(Incremental.appendGroupLifecycle(
          spark, rd(s"$g/v2"), slices._4._1, slices._4._2))
        publish(t, "groups_append2")(Incremental.writeGroupLifecycle(st, s"$g/v3"))
      }),
      Op("groups_resolve", "groups", t => Seq(t.digest("d17_lifecycle_groups",
        t.build(Incremental.resolveGroups(spark.read.parquet(s"$g/v3/labels")))))))
    val postingsBase = Op("postings_base", "postings", t => {
      val st = t.build(Retrieval.postingsLifecycleOf(spark, docSlices._1))
      publish(t, "postings_base")(Retrieval.writePostingsLifecycleState(spark, st, p))
    })
    val postings = Seq(
      Op("postings_append1", "postings", t => publish(t, "postings_append1")(
        Retrieval.appendPostingsLifecycleState(spark, p, docSlices._2))),
      Op("postings_delete", "postings", t => publish(t, "postings_delete")(
        Retrieval.deletePostingsLifecycleState(spark, p, docSlices._3))),
      Op("postings_append2", "postings", t => publish(t, "postings_append2")(
        Retrieval.appendPostingsLifecycleState(spark, p, docSlices._4))),
      Op("postings_query", "postings", t => Seq(t.digest("e16_postings_lifecycle",
        t.build(Retrieval.queryPostingsLifecycleState(spark, p))))),
      Op("postings_compact", "postings", t => publish(t, "postings_compact")(
        Retrieval.compactPostingsLifecycle(spark, p))),
      Op("postings_query_compacted", "postings", t => Seq(t.digest("e16_postings_lifecycle",
        t.build(Retrieval.queryPostingsLifecycleState(spark, p))))))
    if (cold) Seq(groupsBase, postingsBase) else postings ++ groups
  }

  /** The ops of one pass: the seed shuffles the families (catalog keys,
    * or the two base builds of the state workload's cold pass) once, and
    * every other pass runs them in reverse, so consecutive warm passes see
    * each key once early and once late in the pass whatever the seed. The
    * seed is spread over all 64 bits first: java.util.Random's first draws
    * barely differ between nearby seeds. */
  def ordered(ops: Seq[Op], seed: Long, pass: Int): Seq[Op] = {
    val rnd = new scala.util.Random(seed * 0x9E3779B97F4A7C15L)
    val families = rnd.shuffle(ops.map(_.family).distinct)
    (if (pass % 2 == 0) families else families.reverse).flatMap(f => ops.filter(_.family == f))
  }
}
