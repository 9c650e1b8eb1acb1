package graft.perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row

/** The timing decorators must not change what a migration does. */
class DecoratorSuite extends LocalSpark {

  private lazy val workload = new MigrateWorkload(spark, 7L, dataDir,
    new String(Files.readAllBytes(Paths.get("mapping.json")), "UTF-8"))

  /** Both orgs' rows, sorted, with every destination Id replaced by the
    * source Id it came from. The destination mints Ids in the order the
    * parallel write tasks reach it, which differs from run to run with
    * or without decorators; everything else must match exactly. */
  private def state(orgs: MigrateWorkload.Orgs): Seq[(String, Seq[String])] = {
    val origin = Seq("Account__c", "Order__c").flatMap { t =>
      val sch = orgs.dst.describe(t)
      orgs.dst.rows(t).map(r => r.getString(sch.fieldIndex("Id")) ->
        r.getString(sch.fieldIndex(MigrateWorkload.SrcIdColumn)))
    }.toMap
    def canon(r: Row, dstIdCols: Set[Int]): String =
      r.toSeq.zipWithIndex.map { case (v, i) =>
        if (dstIdCols(i)) origin.getOrElse(String.valueOf(v), s"?$v") else String.valueOf(v)
      }.mkString("|")
    def table(side: String, org: graft.sources.InMemoryOrg, t: String,
        dstIdCols: Seq[String]) = {
      val idx = dstIdCols.map(org.describe(t).fieldIndex).toSet
      s"$side.$t" -> org.rows(t).map(canon(_, idx)).sorted
    }
    Seq(table("src", orgs.src, "Account", Seq("New_Id__c")),
      table("src", orgs.src, "Order", Seq("New_Id__c")),
      table("dst", orgs.dst, "Account__c", Seq("Id")),
      table("dst", orgs.dst, "Order__c", Seq("Id", "AccountId")))
  }

  test("a decorated migration ends like an undecorated one") {
    val plainOrgs = workload.buildOrgs()
    val plain = workload.migrateAll(workload.connect(plainOrgs, Tracer.Off), workload.specs)

    val tracer = new Tracer
    val tracedOrgs = workload.buildOrgs()
    val wiring = workload.connect(tracedOrgs, tracer)
    val traced = workload.migrateAll(wiring, workload.specs)

    assert(traced == plain)
    assert(plain.map(_._2.inserted).sum > 0)
    assert(state(tracedOrgs) == state(plainOrgs))
    // and the decorators were really in the path
    assert(wiring.srcCounters.queryCalls.sum > 0 && wiring.dstCounters.writeCalls.sum > 0)
    assert(tracer.all.exists(_.layer == "sources") && tracer.all.exists(_.name == "load"))
  }

  test("a traced pass passes every check, like an untraced one") {
    val plain = workload.runPass(0, Tracer.Off, warmup = false)
    val traced = workload.runPass(0, new Tracer, warmup = false)
    assert(plain.ops.forall(_.ok), plain.ops)
    assert(traced.ops.forall(_.ok), traced.ops)
    assert(traced.records == plain.records)
    assert(traced.layer("sources.records_failed") == 0)
  }
}
