package graft.cli

import java.io.PrintStream
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.model.ColumnName
import graft.registry.{FreshnessManager, FreshnessValidationException}

/** `fresh` command-line tool — the analogue of the reference's `kiji fresh`
  * (reference: `src/main/java/org/kiji/scoring/tools/FreshTool.java:50-68`
  * usage, `:372-509` verb dispatch). Same verbs over the JSON-lines registry:
  *
  * {{{
  * fresh --registry <file> --data-dir <dir> <verb> <table>[/<column>] [opts]
  *   verbs: register --producer-class C --policy-class C [--policy-state S]
  *                   [--as-strings] [--force]
  *          unregister | retrieve | retrieve-all | unregister-all |
  *          validate | validate-all
  * }}}
  *
  * `--as-strings` stores unresolvable class names without classpath checks
  * (reference: `tools/FreshTool.java:190-221`); table schemas for validation
  * come from the data dir's parquet footers.
  */
object FreshCli {

  def main(args: Array[String]): Unit = sys.exit(run(args, System.out))

  private case class Opts(
      registry: String = "freshness.jsonl",
      dataDir: String = ".",
      verb: String = "",
      table: String = "",
      column: Option[ColumnName] = None,
      producerClass: Option[String] = None,
      policyClass: Option[String] = None,
      policyState: String = "",
      asStrings: Boolean = false,
      force: Boolean = false)

  private def parse(args: List[String], o: Opts): Either[String, Opts] = args match {
    case "--registry" :: v :: rest => parse(rest, o.copy(registry = v))
    case "--data-dir" :: v :: rest => parse(rest, o.copy(dataDir = v))
    case "--producer-class" :: v :: rest => parse(rest, o.copy(producerClass = Some(v)))
    case "--policy-class" :: v :: rest => parse(rest, o.copy(policyClass = Some(v)))
    case "--policy-state" :: v :: rest => parse(rest, o.copy(policyState = v))
    case "--as-strings" :: rest => parse(rest, o.copy(asStrings = true))
    case "--force" :: rest => parse(rest, o.copy(force = true))
    case verb :: rest if o.verb.isEmpty => parse(rest, o.copy(verb = verb))
    case target :: rest if o.table.isEmpty =>
      target.split("/", 2) match {
        case Array(t) => parse(rest, o.copy(table = t))
        case Array(t, c) => parse(rest, o.copy(table = t, column = Some(ColumnName(c))))
      }
    case Nil => Right(o)
    case bad :: _ => Left(s"Unrecognized argument: $bad")
  }

  /** Parquet-footer schema lookup for validation; the Spark session spins up
    * lazily — registry-only verbs never pay for it. A session already running
    * in the process is reused as it is: the CLI must not reconfigure it. */
  private def schemaOf(dataDir: String): String => Option[StructType] = {
    lazy val spark = SparkSession.getDefaultSession.getOrElse(graft.GraftSession(1))
    name => {
      val p = s"$dataDir/$name.parquet"
      if (Files.exists(Paths.get(p))) Some(spark.read.parquet(p).schema) else None
    }
  }

  def run(args: Array[String], out: PrintStream): Int =
    parse(args.toList, Opts()) match {
      case Left(err) => out.println(err); 1
      case Right(o) if o.verb.isEmpty || o.table.isEmpty =>
        out.println("Usage: fresh [--registry F] [--data-dir D] <verb> <table>[/<column>] [opts]"); 1
      case Right(o) => dispatch(o, out)
    }

  private def dispatch(o: Opts, out: PrintStream): Int = {
    val mgr = new FreshnessManager(schemaOf(o.dataDir))
    if (Files.exists(Paths.get(o.registry))) mgr.load(o.registry)
    def save(): Unit = mgr.save(o.registry)
    def show(c: ColumnName, r: graft.registry.FreshnessRecord): Unit =
      out.println(s"${r.tableName}/$c: producer=${r.producerClass} " +
        s"policy=${r.policyClass} state='${r.policyState}'")
    try o.verb match {
      case "register" =>
        (o.producerClass, o.policyClass, o.column) match {
          case (Some(pc), Some(fc), Some(col)) =>
            // re-registering an occupied column needs explicit
            // acknowledgment — the batch stand-in for the reference tool's
            // interactive overwrite confirmation
            // (reference: `tools/FreshTool.java:190-221`)
            if (mgr.retrievePolicy(o.table, col).isDefined && !o.force) {
              out.println(s"A freshener is already attached to ${o.table}/$col; " +
                "pass --force to overwrite it.")
              1
            } else {
              if (o.asStrings)
                mgr.storePolicyWithStrings(o.table, col, pc, fc, o.policyState)
              else {
                val policy = graft.policy.FreshnessPolicy.load(fc, o.policyState)
                mgr.storePolicy(o.table, col, pc, policy)
              }
              save(); out.println(s"Registered freshener on ${o.table}/$col"); 0
            }
          case _ =>
            out.println("register requires <table>/<column> --producer-class and --policy-class"); 1
        }
      case "unregister" => o.column match {
        case Some(c) => mgr.removePolicy(o.table, c); save()
          out.println(s"Unregistered freshener from ${o.table}/$c"); 0
        case None => out.println("unregister requires <table>/<column>"); 1
      }
      case "retrieve" => o.column.flatMap(c => mgr.retrievePolicy(o.table, c)) match {
        case Some(r) => show(r.column, r); 0
        case None => out.println(s"No freshener attached to ${o.table}/${o.column.getOrElse("?")}"); 1
      }
      case "retrieve-all" =>
        val rs = mgr.retrievePolicies(o.table)
        if (rs.isEmpty) { out.println(s"No fresheners attached to table ${o.table}"); 0 }
        else { rs.toSeq.sortBy(_._1.toString).foreach { case (c, r) => show(c, r) }; 0 }
      case "unregister-all" =>
        val removed = mgr.removePolicies(o.table); save()
        out.println(s"Unregistered ${removed.size} freshener(s) from ${o.table}"); 0
      case "validate" => o.column match {
        case Some(c) => mgr.retrievePolicy(o.table, c) match {
          case None => out.println(s"No freshener attached to ${o.table}/$c"); 1
          case Some(r) => validateRecord(mgr, r, out)
        }
        case None => out.println("validate requires <table>/<column>"); 1
      }
      case "validate-all" =>
        val rs = mgr.retrievePolicies(o.table).toSeq.sortBy(_._1.toString)
        rs.map { case (_, r) => validateRecord(mgr, r, out) }.sum.min(1)
      case other => out.println(s"Unknown verb: $other"); 1
    } catch {
      case e: FreshnessValidationException => out.println(s"Validation failed: ${e.getMessage}"); 1
      case e: IllegalArgumentException => out.println(e.getMessage); 1
      case e: ReflectiveOperationException =>
        out.println(s"Cannot load class: ${e.getMessage} (use --as-strings to store unresolvable names)"); 1
      case e: ClassCastException =>
        out.println(s"Class is not a FreshnessPolicy/Scorer: ${e.getMessage}"); 1
    }
  }

  /** Re-run attachment checks for a stored record (the reference's
    * post-attachment `validate` verb) — INCLUDING the classpath / producer
    * output-column / data-request checks, so records stored with
    * `--as-strings` surface their unresolvable classes here. */
  private def validateRecord(mgr: FreshnessManager,
      r: graft.registry.FreshnessRecord, out: PrintStream): Int = {
    // a record validates itself minus the already-attached-exclusivity check
    val fails = mgr.validateAttachment(r.tableName, r.column, r.producerClass,
        r.policyClass, checkClasspath = true)
      .filterNot(_._1 == graft.registry.ValidationFailure.FRESHENER_ALREADY_ATTACHED)
    if (fails.isEmpty) { out.println(s"${r.tableName}/${r.column}: valid"); 0 }
    else {
      fails.foreach { case (k, v) => out.println(s"${r.tableName}/${r.column}: $k: $v") }
      1
    }
  }
}
