package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local SparkSession per suite (lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftExtensions.session("graft-test", 4)

  def sf(name: String): String = s"/root/testdata/$name"

  /** Minimal property-check: draw 100 samples from the generator(s). */
  def forAll[A](g: org.scalacheck.Gen[A])(f: A => Unit): Unit =
    (1 to 100).foreach { i => g.sample.foreach(f) }
  def forAll[A, B](ga: org.scalacheck.Gen[A], gb: org.scalacheck.Gen[B])(f: (A, B) => Unit): Unit =
    (1 to 100).foreach { i => for (a <- ga.sample; b <- gb.sample) f(a, b) }
}
