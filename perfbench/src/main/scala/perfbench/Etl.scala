package perfbench

import java.nio.file.{Files, Paths}
import java.sql.{Connection, DriverManager}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
import org.apache.spark.sql.types.{DataType, StringType}

import graft.ops.Merge
import graft.pipelines.{EndSemester, Projects, Staffing}
import graft.sources.JdbcUpsertSink.JdbcTarget

/** Binds Spark strings to Derby as VARCHAR, as Postgres binds them as
  * text. Spark's own Derby dialect maps strings to CLOB: the staging
  * table then holds CLOB columns that Derby's `MERGE` cannot compare
  * with the target's VARCHAR keys, and a NULL string is bound with the
  * CLOB type. Registered dialects are consulted before the built-in
  * one. */
object VarcharDerbyDialect extends JdbcDialect {
  override def canHandle(url: String): Boolean = url.startsWith("jdbc:derby")
  override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
    case StringType => Some(JdbcType("VARCHAR(1024)", java.sql.Types.VARCHAR))
    case _ => None
  }
}

/** `etl_upsert`: the reference's own traffic. Each round replays the
  * same seeded batches, each one a roster sheet and a projects sheet
  * in the JSON shape the reference's web app returns, then the
  * end-of-semester rollover. One operation is one batch: both sheets
  * read through the `sheet` source, the staffing and projects
  * pipelines run against the current state read back over JDBC, and
  * their merge outputs upserted into an in-memory Derby database in the
  * same JVM. After each batch, outside the clock, the target is checked
  * against a model of the batches kept apart from the program. */
final class Etl(ctx: Ctx) extends Workload {
  import Etl._
  private val spark = ctx.spark
  private val url = "jdbc:derby:memory:perfbench;create=true"
  private val sheets = s"${ctx.args.work}/sheets"
  private val batches = Gen.batches(ctx.args.seed, Batches)
  private val model = new Model
  private var stagingId = 0L

  val ops: Seq[String] = batches.indices.map(name) :+ "end_semester"

  def setup(): Unit = {
    JdbcDialects.registerDialect(VarcharDerbyDialect)
    Files.createDirectories(Paths.get(sheets))
    for ((b, i) <- batches.zipWithIndex) {
      Files.writeString(Paths.get(s"$sheets/${name(i)}-roster.json"),
        Gen.sheetJson(RosterCols, b.roster))
      Files.writeString(Paths.get(s"$sheets/${name(i)}-projects.json"),
        Gen.sheetJson(ProjectCols, b.projects))
    }
    withConn(c => Ddl.foreach(c.createStatement().execute))
  }

  def attempt(op: String, round: Int): String = {
    if (op == "end_semester") {
      ctx.timed(endSemester())
      model.endSemester()
      verify()
    } else {
      val i = ops.indexOf(op)
      val b = batches(i)
      ctx.note("sheet_rows", b.roster.size + b.projects.size)
      ctx.timed(apply(name(i)))
      model.apply(b)
      verify()
      // re-applying a batch must leave the target unchanged; checked
      // on the last sheet batch of each round
      if (i == batches.size - 1) {
        val before = state()
        val kept = ctx.extra.toMap
        ctx.ledger.span("check.reapply")(apply(name(i)))
        ctx.extra.clear(); ctx.extra ++= kept
        if (state() != before)
          throw new IllegalStateException(s"$op: re-applying changed the target")
      }
    }
    ""
  }

  override def endRound(round: Int): Unit = {
    withConn { c =>
      Tables.foreach(t => c.createStatement().execute(s"""DELETE FROM "$t""""))
    }
    model.reset()
  }

  // ---- the timed part -------------------------------------------------------
  private def target(t: String) = JdbcTarget(url, t, "app", "",
    Map("numPartitions" -> ctx.args.cores.toString))

  /** The table's current rows, read over JDBC into a local frame so one
    * batch sees one snapshot however often its plan reads it. */
  private def current(t: String): DataFrame = ctx.ledger.span("state.read") {
    val df = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "\"" + t + "\"").load()
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
  }

  private def upsert(df: DataFrame, t: String, keys: Seq[String]): Unit = {
    stagingId += 1
    ctx.layer("sources.jdbc_write_s") {
      Merge.writeJdbc(df, target(t), keys, stagingId, dialect = "ansi")
    }
  }

  private def apply(batch: String): Unit = {
    val roster = ctx.layer("sources.sheet_read_s") {
      spark.read.format("sheet").load(s"$sheets/$batch-roster.json")
    }
    val projSheet = ctx.layer("sources.sheet_read_s") {
      spark.read.format("sheet").load(s"$sheets/$batch-projects.json")
    }
    val (curUsers, curConsultants) = (current("users"), current("consultants"))
    val s = ctx.layer("pipelines.build_s") {
      Staffing.run(roster, curUsers, curConsultants)
    }
    upsert(s.users, "users", Seq("email"))
    upsert(s.consultants, "consultants", Seq("user_id"))
    val users = current("users").select("user_id", "netid", "curr_role")
    val curProjects = current("projects")
    val p = ctx.layer("pipelines.build_s") {
      Projects.run(projSheet, users, curProjects)
    }
    upsert(p.projects, "projects", Seq("project_name"))
  }

  private def endSemester(): Unit = {
    val cur = current("consultants")
    val r = ctx.layer("pipelines.build_s")(EndSemester.run(cur))
    upsert(r.consultants, "consultants", Seq("user_id"))
  }

  // ---- the checks, outside the clock ----------------------------------------
  private def withConn[T](f: Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  /** Every table as a set of rows of strings, read with plain JDBC. */
  private def state(): Map[String, Set[Seq[String]]] = withConn { c =>
    Tables.map { t =>
      val rs = c.createStatement().executeQuery(s"""SELECT * FROM "$t"""")
      val n = rs.getMetaData.getColumnCount
      val rows = mutable.Set.empty[Seq[String]]
      while (rs.next()) rows += (1 to n).map(i => rs.getString(i))
      t -> rows.toSet
    }.toMap
  }

  private def rows(c: Connection, sql: String): Seq[Map[String, String]] = {
    val rs = c.createStatement().executeQuery(sql)
    val md = rs.getMetaData
    val names = (1 to md.getColumnCount).map(md.getColumnName)
    val buf = mutable.ArrayBuffer.empty[Map[String, String]]
    while (rs.next())
      buf += names.zipWithIndex.map { case (n, i) => n -> rs.getString(i + 1) }.toMap
    buf.toSeq
  }

  private def verify(): Unit = withConn { c =>
    def fail(msg: String) = throw new IllegalStateException(msg)
    val users = rows(c, """SELECT * FROM "users"""")
    val cons = rows(c, """SELECT * FROM "consultants"""")
    val projs = rows(c, """SELECT * FROM "projects"""")

    // users: one row per distinct valid email seen so far, latest values
    if (users.size != model.users.size)
      fail(s"users: ${users.size} rows, expected ${model.users.size}")
    val ids = users.map(_("user_id"))
    if (ids.distinct.size != ids.size) fail("users: user_id not unique")
    val idOf = mutable.Map.empty[String, String]
    val netidOf = mutable.Map.empty[String, String]
    for (u <- users) {
      val email = u("email")
      val want = model.users.getOrElse(email,
        fail(s"users: unexpected row $email (quarantined or unknown)"))
      for ((k, v) <- want.user if u(k) != v)
        fail(s"users[$email].$k = ${u(k)}, expected $v")
      model.userIds.get(email) match {
        case Some(id) if id != u("user_id") =>
          fail(s"users[$email]: user_id reassigned $id -> ${u("user_id")}")
        case _ => model.userIds(email) = u("user_id")
      }
      idOf(email) = u("user_id")
      netidOf(u("user_id")) = u("netid")
    }
    if (model.quarantined.exists(e => idOf.contains(e)))
      fail("users: a quarantined row arrived")

    // consultants: one row per user, latest values
    if (cons.size != users.size)
      fail(s"consultants: ${cons.size} rows, expected ${users.size}")
    val byId = cons.map(r => r("user_id") -> r).toMap
    for ((email, want) <- model.users) {
      val r = byId.getOrElse(idOf(email),
        fail(s"consultants: no row for $email"))
      for ((k, v) <- want.consultant if r(k) != v)
        fail(s"consultants[$email].$k = ${r(k)}, expected $v")
    }

    // projects: one row per valid project name, roles resolved to users
    if (projs.size != model.projects.size)
      fail(s"projects: ${projs.size} rows, expected ${model.projects.size}")
    val pids = projs.map(_("project_id"))
    if (pids.distinct.size != pids.size) fail("projects: project_id not unique")
    for (p <- projs) {
      val name = p("project_name")
      val want = model.projects.getOrElse(name,
        fail(s"projects: unexpected row $name (quarantined or unknown)"))
      if (p("project_semester") != want.semester ||
          p("client_name") != want.client)
        fail(s"projects[$name]: stale values")
      for ((role, netid) <- ProjectRoles.zip(want.netids)) {
        val got = Option(p(s"${role}_id")).map(netidOf)
        if (got != netid) fail(s"projects[$name].$role = $got, expected $netid")
      }
      model.projectIds.get(name) match {
        case Some(id) if id != p("project_id") =>
          fail(s"projects[$name]: project_id reassigned")
        case _ => model.projectIds(name) = p("project_id")
      }
    }
  }
}

object Etl {
  val Batches = 4
  def name(i: Int): String = f"batch${i + 1}%02d"

  val Slots = Seq("Mon 9am GMT-0600", "Tue 1pm GMT-0600", "Wed 5pm GMT-0600")
  val RosterCols: Seq[String] = Seq("Name", "Email", "Gender", "Race",
    "US Citizen", "Residency", "First Generation", "Current Role", "NetID",
    "Year", "Major", "Minor", "College", "Consultant Score",
    "Semesters in IBC", "Time Zone", "Willing to Travel",
    "Industry Interests", "Functional Area Interests", "Status",
    "Week Before Finals Availability") ++ Slots
  val ProjectCols: Seq[String] = Seq("Project Name", "Semester",
    "Client Name", "EM NetID", "SM NetID", "PM NetID", "SC 1 NetID",
    "SC 2 NetID")
  val ProjectRoles: Seq[String] = Seq("em", "sm", "pm", "sc1", "sc2")

  val Tables: Seq[String] = Seq("users", "consultants", "projects")
  private val days = Seq("mon" -> "monday", "tue" -> "tuesday",
    "wed" -> "wednesday", "thu" -> "thursday", "fri" -> "friday",
    "sat" -> "saturday", "sun" -> "sunday")
  val Ddl: Seq[String] = Seq(
    """CREATE TABLE "users" ("user_id" BIGINT NOT NULL,
      | "name" VARCHAR(200), "email" VARCHAR(200) NOT NULL PRIMARY KEY,
      | "gender" VARCHAR(50), "race" VARCHAR(50), "us_citizen" BOOLEAN,
      | "residency" BOOLEAN, "first_gen" BOOLEAN,
      | "curr_role" VARCHAR(50), "netid" VARCHAR(50))""".stripMargin,
    """CREATE TABLE "consultants" ("user_id" BIGINT NOT NULL PRIMARY KEY,
      | "year" VARCHAR(20), "major" VARCHAR(100), "minor" VARCHAR(100),
      | "college" VARCHAR(100), "consultants_score" INT,
      | "semesters_in_ibc" INT, "time_zone" VARCHAR(20),
      | "willing_to_travel" VARCHAR(50), "industry_interests" VARCHAR(200),
      | "functional_area_interests" VARCHAR(200), "status" VARCHAR(50),
      | "week_before_finals_availability" BOOLEAN, """.stripMargin +
      days.map(d => s""""availability_${d._1}" VARCHAR(30)""").mkString(", ") +
      ")",
    """CREATE TABLE "projects" ("project_id" BIGINT NOT NULL,
      | "project_name" VARCHAR(200) NOT NULL PRIMARY KEY,
      | "project_semester" VARCHAR(20), "client_name" VARCHAR(200),
      | "em_id" BIGINT, "sm_id" BIGINT, "pm_id" BIGINT, "sc1_id" BIGINT,
      | "sc2_id" BIGINT)""".stripMargin).map(_.replace("\n", ""))

  /** One batch: sheet rows as header → cell, in column order. */
  final case class Batch(roster: Seq[Map[String, String]],
      projects: Seq[Map[String, String]])

  /** The seeded batch generator. A batch is the semester's two sheets
    * as the reference reads them on each scheduled run: the whole
    * roster and the whole projects list so far (one sheet per semester,
    * read whole: BASELINE.md). From one batch to the next a few members
    * and projects are added and a share of the rest is edited; every
    * other row is unchanged, so most merged rows are no-ops. Rows with a
    * blank required field, projects naming an unknown netid and
    * projects without a name stay in the sheet unfixed. The sizes and
    * shares below are assumed, not taken from the reference. */
  object Gen {
    val Members = 250
    val NewMembers = 15
    val Incomplete = 10
    val NewIncomplete = 2
    val ProjectCount = 40
    val NewProjects = 4
    val Ghosts = 6
    val Unnamed = 2
    val EditShare = 0.1
    private val EditableCols = Seq("Current Role", "Year", "Minor",
      "Consultant Score", "Semesters in IBC", "Status",
      "Willing to Travel", "Week Before Finals Availability") ++ Slots

    private val bools = Seq("Yes", "No", "TRUE", "false", "1", "0", "",
      " yes ", "maybe")
    private def pick[T](r: Random, xs: Seq[T]): T = xs(r.nextInt(xs.size))

    def member(r: Random, i: Int): Map[String, String] = {
      val dayLists = Seq("", "Monday", "monday, Wednesday",
        "Tuesday , FRIDAY", "sunday,saturday", "Thursday")
      Map("Name" -> s"Member $i", "Email" -> s"m$i@ibc.edu",
        "Gender" -> pick(r, Seq("F", "M", "NB", "")),
        "Race" -> pick(r, Seq("Asian", "Black", "White", "Hispanic", "")),
        "US Citizen" -> pick(r, bools), "Residency" -> pick(r, bools),
        "First Generation" -> pick(r, bools),
        "Current Role" -> pick(r, Seq("Consultant", "EM", "SM", "PM", "SC")),
        "NetID" -> s"n$i",
        "Year" -> pick(r, Seq("2025", "2026", "2027", "")),
        "Major" -> pick(r, Seq("CS", "ECE", "Econ", "Math")),
        "Minor" -> pick(r, Seq("", "Stats", "Bio")),
        "College" -> pick(r, Seq("Engineering", "LAS", "")),
        "Consultant Score" -> pick(r, Seq("1", "2", "3", "4", "5", "", "n/a")),
        "Semesters in IBC" -> pick(r, Seq("1", "2", "3", "4", "")),
        "Time Zone" -> pick(r, Seq("CST", "EST", "")),
        "Willing to Travel" -> pick(r, Seq("Yes", "No", "Sometimes", "")),
        "Industry Interests" -> pick(r, Seq("Tech", "Finance", "Health", "")),
        "Functional Area Interests" -> pick(r, Seq("Strategy", "Ops", "")),
        "Status" -> pick(r, Seq("Active", "Returning", "New")),
        "Week Before Finals Availability" -> pick(r, bools)) ++
        Slots.map(s => s -> pick(r, dayLists))
    }

    def batches(seed: Long, n: Int): Seq[Batch] = {
      val r = new Random(seed)
      // sheet rows in sign-up order, keyed by a row id
      val roster = mutable.LinkedHashMap.empty[String, Map[String, String]]
      val projects = mutable.LinkedHashMap.empty[String, Map[String, String]]
      val valid = mutable.ArrayBuffer.empty[String]
      val named = mutable.ArrayBuffer.empty[String]
      var nextMember, nextIncomplete, nextProject, nextGhost = 0

      def addMember(): Unit = {
        nextMember += 1
        val k = s"m$nextMember"
        roster(k) = member(r, nextMember); valid += k
      }
      def addIncomplete(): Unit = {
        nextIncomplete += 1
        roster(s"q$nextIncomplete") = member(r, 1000000 + nextIncomplete) ++
          Map("Email" -> s"q$nextIncomplete@ibc.edu",
            pick(r, Seq("Name", "NetID", "Major", "Current Role")) ->
              pick(r, Seq("", "   ")))
      }
      def netid(): String =
        if (r.nextInt(5) == 0) "" else roster(pick(r, valid.toSeq))("NetID")
      def project(name: String) = Map("Project Name" -> name,
        "Semester" -> pick(r, Seq("FA25", "SP26", "FA26")),
        "Client Name" -> s"Client ${r.nextInt(40)}") ++
        ProjectCols.drop(3).map(_ -> netid())
      def addProject(): Unit = {
        nextProject += 1
        val k = s"p$nextProject"
        projects(k) = project(s"Project $nextProject"); named += k
      }
      def addGhost(): Unit = {
        nextGhost += 1
        projects(s"g$nextGhost") = project(s"Ghost $nextGhost") ++
          Map(pick(r, ProjectCols.drop(3)) -> s"ghost$nextGhost")
      }
      // an edit redraws one or two fields; a redraw may repeat the value
      def edit(rows: mutable.LinkedHashMap[String, Map[String, String]],
          keys: Seq[String], fresh: => Map[String, String],
          cols: Seq[String]): Unit =
        for (k <- r.shuffle(keys).take(math.round(EditShare * keys.size).toInt)) {
          val f = fresh
          rows(k) = rows(k) ++
            r.shuffle(cols).take(1 + r.nextInt(2)).map(c => c -> f(c))
        }
      def inOrder(steps: Seq[() => Unit]): Unit = r.shuffle(steps).foreach(_())

      (0 until n).map { b =>
        if (b == 0) {
          inOrder(Seq.fill(Members)(() => addMember()) ++
            Seq.fill(Incomplete)(() => addIncomplete()))
          inOrder(Seq.fill(ProjectCount)(() => addProject()) ++
            Seq.fill(Ghosts)(() => addGhost()) ++
            (1 to Unnamed).map(j => () => projects(s"u$j") = project("")))
        } else {
          edit(roster, valid.toSeq, member(r, 0), EditableCols)
          edit(projects, named.toSeq, project(""), ProjectCols.drop(1))
          inOrder(Seq.fill(NewMembers)(() => addMember()) ++
            Seq.fill(NewIncomplete)(() => addIncomplete()))
          for (_ <- 0 until NewProjects) addProject()
        }
        Batch(roster.values.toSeq, projects.values.toSeq)
      }
    }

    /** A sheet as the web app returns it: a JSON array of objects whose
      * keys follow the sheet's column order. */
    def sheetJson(cols: Seq[String], rows: Seq[Map[String, String]]): String =
      Main.json.writeValueAsString(
        rows.map(row => ListMap(cols.map(c => c -> row(c)): _*)))
  }

  final case class UserWant(user: Map[String, String],
      consultant: Map[String, String])
  final case class ProjectWant(semester: String, client: String,
      netids: Seq[Option[String]])

  /** The expected target, derived from the sheets with plain Scala and
    * the reference's rules: blank cells are NULL, yes/true/1 are true
    * and anything else false, an unparseable integer is NULL, a row
    * missing a required field is quarantined, and a project naming an
    * unknown netid is quarantined. Values are compared as JDBC renders
    * them (`getString`). */
  final class Model {
    val users = mutable.Map.empty[String, UserWant]
    val userIds = mutable.Map.empty[String, String]
    val quarantined = mutable.Set.empty[String]
    val projects = mutable.Map.empty[String, ProjectWant]
    val projectIds = mutable.Map.empty[String, String]
    private val netids = mutable.Set.empty[String]

    def reset(): Unit = {
      users.clear(); userIds.clear(); quarantined.clear()
      projects.clear(); projectIds.clear(); netids.clear()
    }

    private def blank(s: String) = s == null || s.trim.isEmpty
    private def str(s: String): String = if (blank(s)) null else s
    private def bool(s: String): String =
      if (s != null && Set("yes", "true", "1")(s.trim.toLowerCase)) "true"
      else "false"
    private def int(s: String): String =
      if (blank(s)) null else scala.util.Try(s.trim.toInt.toString).toOption.orNull
    private def bitmap(row: Map[String, String], day: String): String =
      Slots.sorted.map { s =>
        if (row(s).split(",").exists(_.trim.toLowerCase == day)) '1' else '0'
      }.mkString.padTo(30, '0')

    def apply(b: Batch): Unit = {
      for (row <- b.roster) {
        val missing = Staffing.RequiredCols.exists(c => blank(row(c)))
        if (missing) quarantined += row("Email")
        else {
          users(row("Email")) = UserWant(
            Map("name" -> str(row("Name")), "gender" -> str(row("Gender")),
              "race" -> str(row("Race")),
              "us_citizen" -> bool(row("US Citizen")),
              "residency" -> bool(row("Residency")),
              "first_gen" -> bool(row("First Generation")),
              "curr_role" -> str(row("Current Role")),
              "netid" -> str(row("NetID"))),
            Map("year" -> str(row("Year")), "major" -> str(row("Major")),
              "minor" -> str(row("Minor")), "college" -> str(row("College")),
              "consultants_score" -> int(row("Consultant Score")),
              "semesters_in_ibc" -> int(row("Semesters in IBC")),
              "time_zone" -> str(row("Time Zone")),
              "willing_to_travel" -> str(row("Willing to Travel")),
              "industry_interests" -> str(row("Industry Interests")),
              "functional_area_interests" ->
                str(row("Functional Area Interests")),
              "status" -> str(row("Status")),
              "week_before_finals_availability" ->
                bool(row("Week Before Finals Availability"))) ++
              days.map { case (k, d) => s"availability_$k" -> bitmap(row, d) })
          netids += row("NetID")
        }
      }
      for (row <- b.projects if !blank(row("Project Name"))) {
        val ids = ProjectCols.drop(3).map(c => Option(str(row(c))))
        if (ids.flatten.forall(netids)) projects(row("Project Name")) =
          ProjectWant(str(row("Semester")), str(row("Client Name")), ids)
      }
    }

    def endSemester(): Unit = for ((k, u) <- users) {
      val sem = Option(u.consultant("semesters_in_ibc"))
        .map(s => (s.toInt + 1).toString).orNull
      users(k) = u.copy(consultant = u.consultant ++
        Map("status" -> "Deferred", "semesters_in_ibc" -> sem))
    }
  }
}
