package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.cli.FreshCli

/** CLI verbs — mirrors `src/test/java/org/kiji/scoring/tools/TestFreshTool.java:104-313`. */
class FreshCliSpec extends AnyFunSuite with SparkSpec {

  private lazy val dataDir: String = {
    val dir = Files.createTempDirectory("graft-cli-data").toString
    Fixtures.userRegistry(spark).write.mode("overwrite").parquet(s"$dir/user.parquet")
    dir
  }

  private def cli(registry: String, args: String*): (Int, String) = {
    val bos = new ByteArrayOutputStream()
    val code = FreshCli.run(
      (Seq("--registry", registry, "--data-dir", dataDir) ++ args).toArray,
      new PrintStream(bos, true, "UTF-8"))
    (code, bos.toString("UTF-8"))
  }

  private def tmpRegistry(): String =
    Files.createTempDirectory("graft-cli").resolve("reg.jsonl").toString

  test("register → retrieve → validate → unregister round-trip") {
    val reg = tmpRegistry()
    val (c1, o1) = cli(reg, "register", "user/info:name",
      "--producer-class", classOf[NameRewrite].getName,
      "--policy-class", classOf[graft.policy.ShelfLife].getName,
      "--policy-state", """{"shelfLife":86400000}""")
    assert(c1 == 0, o1)
    // the schema lookup reuses the running session without reconfiguring it
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val (c2, o2) = cli(reg, "retrieve", "user/info:name")
    assert(c2 == 0 && o2.contains("ShelfLife") && o2.contains("shelfLife"))
    val (c3, o3) = cli(reg, "validate", "user/info:name")
    assert(c3 == 0 && o3.contains("valid"))
    val (c4, _) = cli(reg, "unregister", "user/info:name")
    assert(c4 == 0)
    val (c5, o5) = cli(reg, "retrieve", "user/info:name")
    assert(c5 == 1 && o5.contains("No freshener"))
  }

  test("register rejects invalid attachments with aggregated failures") {
    val reg = tmpRegistry()
    val (c, out) = cli(reg, "register", "user/absent:q",
      "--producer-class", classOf[NameRewrite].getName,
      "--policy-class", classOf[graft.policy.AlwaysFreshen].getName)
    assert(c == 1 && out.contains("NO_FAMILY_IN_TABLE"))
  }

  test("--as-strings stores unresolvable class names; retrieve-all and unregister-all") {
    val reg = tmpRegistry()
    assert(cli(reg, "register", "user/info:name", "--as-strings",
      "--producer-class", "com.example.MysteryProducer",
      "--policy-class", "com.example.MysteryPolicy")._1 == 0)
    assert(cli(reg, "register", "user/info:email", "--as-strings",
      "--producer-class", "com.example.Other",
      "--policy-class", "com.example.OtherPolicy")._1 == 0)
    val (c, out) = cli(reg, "retrieve-all", "user")
    assert(c == 0 && out.contains("MysteryProducer") && out.contains("Other"))
    // validate surfaces the unresolvable producer classes stored as strings
    val (cv, vout) = cli(reg, "validate-all", "user")
    assert(cv == 1 && vout.contains("BAD_PRODUCER_NAME"), vout)
    val (cu, uout) = cli(reg, "unregister-all", "user")
    assert(cu == 0 && uout.contains("2"))
    assert(cli(reg, "retrieve-all", "user")._2.contains("No fresheners"))
  }

  test("register on an occupied column refuses without --force, overwrites with it") {
    val reg = tmpRegistry()
    assert(cli(reg, "register", "user/info:name", "--as-strings",
      "--producer-class", "a.First", "--policy-class", "c.D")._1 == 0)
    // same column again: refused, record untouched
    val (cr, or_) = cli(reg, "register", "user/info:name", "--as-strings",
      "--producer-class", "a.Second", "--policy-class", "c.D")
    assert(cr == 1 && or_.contains("--force"), or_)
    assert(cli(reg, "retrieve", "user/info:name")._2.contains("a.First"))
    // --force overwrites
    val (cf, of) = cli(reg, "register", "user/info:name", "--as-strings", "--force",
      "--producer-class", "a.Second", "--policy-class", "c.D")
    assert(cf == 0, of)
    assert(cli(reg, "retrieve", "user/info:name")._2.contains("a.Second"))
  }

  test("registry persists across invocations (JSON-lines file)") {
    val reg = tmpRegistry()
    cli(reg, "register", "user/info:name", "--as-strings",
      "--producer-class", "a.B", "--policy-class", "c.D", "--policy-state", "s")
    assert(Files.exists(java.nio.file.Paths.get(reg)))
    val (c, out) = cli(reg, "retrieve", "user/info:name")
    assert(c == 0 && out.contains("a.B"))
  }

  test("bad arguments produce usage / errors") {
    val reg = tmpRegistry()
    assert(cli(reg)._1 == 1)
    assert(cli(reg, "frobnicate", "user")._2.contains("Unknown verb"))
    assert(cli(reg, "unregister", "user/info:name")._1 == 1) // nothing attached
  }
}
