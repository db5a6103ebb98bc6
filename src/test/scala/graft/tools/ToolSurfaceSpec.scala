package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The runnable surface stays in step with what uses it, by source text:
  *  - every `runMain graft.<X>`, `graft.tools.<X>` or `tools/<X>` named by
  *    the scripts, README, the verify skill or perfbench's harness resolves
  *    to an object with `main(Array[String])`, or to the member it names
  *    (`graft.tools.X(` is `apply`, `graft.tools.X.m` is `m`);
  *  - every top-level object with a `main` under `src/main/scala/graft` is
  *    named by one of those files, by a spec, or by ROADMAP's open items —
  *    a one-off probe that nothing runs fails here instead of piling up.
  */
class ToolSurfaceSpec extends AnyFlatSpec with Matchers {
  import ToolSurfaceSpec._

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  private def walk(root: String, suffix: String): Vector[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(suffix)).toVector.sortBy(_.toString)
    finally s.close()
  }

  private def listed(dir: String, suffix: String): Vector[Path] =
    Option(Paths.get(dir).toFile.listFiles()).toVector.flatten
      .map(_.toPath).filter(_.toString.endsWith(suffix)).sortBy(_.toString)

  /** Files whose `runMain`/`graft.tools` references must resolve. */
  private lazy val referrers: Vector[Path] =
    listed("scripts", ".py") ++ listed("perfbench/scala", ".scala") ++
      Vector(Paths.get("README.md"), Paths.get(".claude/skills/verify/SKILL.md"))
        .filter(Files.isRegularFile(_))

  private lazy val objects: Map[String, Obj] = walk("src/main/scala/graft", ".scala").flatMap { p =>
    val lines = read(p).split("\n", -1).toVector
    val pkg = lines.collectFirst { case l if l.startsWith("package ") =>
      l.stripPrefix("package ").trim }.getOrElse("")
    val starts = lines.indices.filter(i => topLevel.findFirstIn(lines(i)).nonEmpty)
    starts.zipWithIndex.flatMap { case (s, k) =>
      val end = if (k + 1 < starts.size) starts(k + 1) else lines.size
      topLevel.findFirstMatchIn(lines(s)).collect { case m if m.group(1) == "object" =>
        val name = if (pkg.isEmpty) m.group(2) else s"$pkg.${m.group(2)}"
        name -> Obj(name, lines.slice(s, end).mkString("\n"))
      }
    }
  }.toMap

  private lazy val refs: Vector[Ref] = referrers.flatMap { p =>
    val text = read(p)
    val runMain = raw"runMain\s+(graft(?:\.\w+)+)".r.findAllMatchIn(text)
      .map(m => Ref(p.toString, m.group(1), None))
    val qualified = raw"graft\.tools\.([A-Z]\w*)(\(|\.\w+)?".r.findAllMatchIn(text)
      .map { m =>
        val member = Option(m.group(2)).map(g => if (g == "(") "apply" else g.drop(1))
        Ref(p.toString, s"graft.tools.${m.group(1)}", member)
      }
    val path = raw"(?<![\w/])tools/([A-Z]\w*)".r.findAllMatchIn(text)
      .map(m => Ref(p.toString, s"graft.tools.${m.group(1)}", None))
    (runMain ++ qualified ++ path).toVector
  }.distinct

  "the runnable surface" should "scan the sources from the repo root" in {
    objects should contain key "graft.Bench"
    refs.map(_.fqn) should contain ("graft.tools.LocalSession")
  }

  it should "resolve every main or member the scripts and docs name" in {
    val unresolved = refs.filterNot { r =>
      objects.get(r.fqn).exists(o => r.member.fold(o.hasMain)(o.hasMember))
    }
    withClue(unresolved.map(r =>
      s"${r.where}: ${r.fqn}${r.member.fold(" (main)")("." + _)}").mkString("\n", "\n", "\n")) {
      unresolved shouldBe empty
    }
  }

  it should "have a user for every main under src/main" in {
    val roadmap = read(Paths.get("ROADMAP.md"))
    val openItems = roadmap.indexOf("## Open items") match {
      case -1 => ""
      case i => roadmap.substring(i)
    }
    val specs = walk("src/test/scala", ".scala")
      .filterNot(_.getFileName.toString == "ToolSurfaceSpec.scala")
    val naming = (referrers ++ specs).map(read) :+ openItems
    val orphans = objects.values.filter(_.hasMain).map(_.fqn).filterNot { fqn =>
      val word = ("\\b" + java.util.regex.Pattern.quote(fqn.split('.').last) + "\\b").r
      naming.exists(word.findFirstIn(_).nonEmpty)
    }.toVector.sorted
    withClue(orphans.mkString("\n", "\n", "\n")) {
      orphans shouldBe empty
    }
  }
}

object ToolSurfaceSpec {
  /** A top-level object: its package-qualified name and its source text up
    * to the next top-level definition.
    */
  final case class Obj(fqn: String, body: String) {
    def hasMain: Boolean =
      raw"def\s+main\s*\(\s*\w+\s*:\s*Array\[String\]\s*\)".r.findFirstIn(body).nonEmpty
    def hasMember(m: String): Boolean =
      (raw"(def|val|var|object|class)\s+" + java.util.regex.Pattern.quote(m) + raw"\b").r
        .findFirstIn(body).nonEmpty
  }

  val topLevel =
    raw"^(?:private\S*\s+|final\s+|sealed\s+|abstract\s+|implicit\s+|case\s+)*(object|class|trait)\s+(\w+)".r

  /** One named reference: where it appears, the object, and the member it
    * needs (`None` = a runnable main).
    */
  final case class Ref(where: String, fqn: String, member: Option[String])
}
