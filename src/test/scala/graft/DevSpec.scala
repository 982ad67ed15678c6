package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The dev-tool command lines and the one session policy. Argument
  * parsing is pure, so a bad command line fails with the usage
  * message before any session is built; nothing here starts Spark. */
class DevSpec extends AnyFlatSpec with Matchers {

  private def rejected(parsed: Either[String, _]): String =
    parsed.swap.getOrElse(fail(s"accepted: $parsed"))

  "Dev.parse" should "reject an unknown or empty subcommand with the usage message" in {
    for (args <- Seq(Seq("profile", "q_optional"), Seq("explain"), Nil,
        Seq("time"), Seq("plan", "--out", "/tmp/p", "before")))
      withClue(args) { rejected(Dev.parse(args)) should startWith("usage: graft.Dev") }
  }

  it should "reject an unknown battery entry before any session starts" in {
    val msg = rejected(Dev.parse(Seq("final", "q_optional", "q_no_such_entry")))
    msg should include("unknown battery entries: q_no_such_entry")
    msg should include("usage: graft.Dev")
  }

  it should "read the three subcommands" in {
    Dev.parse(Seq("time", "q_optional")) shouldBe Right(Dev.Time(Seq("q_optional")))
    Dev.parse(Seq("plan", "q_optional")) shouldBe
      Right(Dev.Plan(None, Seq("q_optional")))
    Dev.parse(Seq("plan", "--out", "/tmp/p", "before", "q_dict_bucketed")) shouldBe
      Right(Dev.Plan(Some(("/tmp/p", "before")), Seq("q_dict_bucketed")))
    Dev.parse(Seq("final", "q_dict_bucketed")) shouldBe
      Right(Dev.Final(Seq("q_dict_bucketed")))
  }

  "Verify.parseArgs" should "reject a wrong argument count with the usage message" in {
    for (args <- Seq(Nil, Seq("sf")))
      withClue(args) { rejected(Verify.parseArgs(args)) should startWith("usage: graft.Verify") }
    rejected(Verify.parseArgs(Seq("sf", "out", "q_no_such_entry"))) should
      include("unknown battery entries: q_no_such_entry")
    rejected(Verify.parseSweepArgs(Seq("sf", "out", "r.json", "q_no_such_entry"))) should
      (include("unknown battery entries: q_no_such_entry") and
        include("usage: graft.VerifyAtSf"))
  }

  it should "read the whole battery or an entry subset" in {
    Verify.parseArgs(Seq("sf", "out")) shouldBe Right(("sf", "out", None))
    Verify.parseArgs(Seq("sf", "out", "q_optional", "q_dict_bucketed")) shouldBe
      Right(("sf", "out", Some(Set("q_optional", "q_dict_bucketed"))))
    Verify.parseSweepArgs(Seq("sf", "out")) shouldBe Right(None)
    Verify.parseSweepArgs(Seq("sf", "out", "r.json", "q_optional")) shouldBe
      Right(Some(Set("q_optional")))
  }

  "LocalSession" should "hold the only SparkSession builder in src/main" in {
    import scala.jdk.CollectionConverters._
    val builders = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
        "SparkSession\\s*\\.\\s*builder".r
          .findAllIn(java.nio.file.Files.readString(f)).map(_ => f.toString)
      }.toList
    builders shouldBe List("src/main/scala/graft/LocalSession.scala")
  }
}
