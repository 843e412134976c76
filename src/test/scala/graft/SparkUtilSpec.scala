package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class SparkUtilSpec extends AnyFunSuite {
  test("mains and tools build sessions only through SparkUtil.localSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found; run from the repository root")
    val walk = Files.walk(root)
    val builders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "SparkUtil.scala")
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            // scaladoc examples are exempt
            case (line, i) if line.contains("SparkSession.builder") &&
                !line.trim.startsWith("*") => s"$p:${i + 1}"
          }
        }.toList
      finally walk.close()
    assert(builders.isEmpty, builders.mkString("\n"))
  }
}
