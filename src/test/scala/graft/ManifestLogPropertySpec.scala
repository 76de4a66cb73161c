package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ColStat, ManifestLog, NullStat, PartTuple, StrColStat}
import graft.sources.ManifestLog._

/** `decode(encode(r)) == Some(r)` for generated records of every kind,
  * with token-safe names, sampled over fixed seeds. */
class ManifestLogPropertySpec extends AnyFunSuite {
  val name: Gen[String] = for {
    n <- Gen.choose(1, 12)
    cs <- Gen.listOfN(n, Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('.', '_', '-')))
  } yield cs.mkString
  val word: Gen[String] = Gen.choose(1, 10).flatMap(n =>
    Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
  val text: Gen[String] = Gen.listOf(Gen.asciiPrintableChar).map(_.mkString)
  val long: Gen[Long] = Gen.oneOf(Gen.long, Gen.choose(-5L, 5L))
  val version: Gen[Option[Long]] = Gen.option(Gen.choose(0L, Long.MaxValue))
  val cols: Gen[Seq[(String, String)]] = Gen.nonEmptyListOf(
    Gen.zip(name, Gen.alphaNumStr.suchThat(_.nonEmpty)))

  val record: Gen[LogRecord] = Gen.oneOf[LogRecord](
    name.suchThat(!_.startsWith("#")).map(Data(_)),
    Gen.zip(name, long).map { case (w, e) => Txn(w, e) },
    long.map(Ts(_)),
    text.map(Schema(_)),
    Gen.zip(Gen.option(Gen.choose(0, Int.MaxValue)),
      Gen.nonEmptyListOf(name).map(_.mkString(";"))).map { case (i, b) => Spec(i, b) },
    name.map(Op(_)),
    name.map(Cow(_)),
    name.map(ForBranch(_)),
    Gen.const(CdcPair),
    name.map(Remove(_)),
    for {
      f <- name; rows <- long
      ls <- Gen.listOf(Gen.zip(name, long, long).map { case (c, a, b) => ColStat(c, a, b) })
      ss <- Gen.listOf(Gen.zip(name, text, Gen.option(text))
        .map { case (c, a, b) => StrColStat(c, a, b) })
      ns <- Gen.listOf(Gen.zip(name, long).map { case (c, n) => NullStat(c, n) })
    } yield Stats(f, rows, ls, ss, ns),
    Gen.zip(name, cols).map { case (f, c) => Bloom(f, c) },
    Gen.zip(name, cols).map { case (f, c) => Ndv(f, c) },
    Gen.zip(name, Gen.choose(0, Int.MaxValue), Gen.nonEmptyListOf(word))
      .map { case (f, i, t) => Part(f, PartTuple(i, t)) },
    Gen.zip(name, name, long).map { case (d, v, n) => Dv(d, v, n) },
    Gen.zip(name, text).map { case (k, v) => Prop(k, v) },
    Gen.listOf(Gen.zip(name.suchThat(!_.contains('=')), name))
      .map(es => Colmap(es)),
    Gen.zip(name, version).map { case (n, v) => Tag(n, v) },
    Gen.zip(name, version).map { case (n, v) => Branch(n, v) },
    Gen.zip(name, long).map { case (f, b) => RowId(f, b) },
    long.map(RowIdHwm(_)),
    Gen.zip(name, Gen.oneOf("pre", "post")).map { case (f, r) => Cdc(f, r) },
    Gen.zip(name, Gen.nonEmptyListOf(name), long)
      .map { case (f, c, n) => EqDel(f, c, n) },
    name.map(EqDrop(_)))

  test("every generated record round-trips through encode and decode") {
    val kinds = (1L to 2000L).map { seed =>
      val r = record.pureApply(Gen.Parameters.default, Seed(seed))
      assert(ManifestLog.decode(ManifestLog.encode(r)).contains(r),
        s"seed=$seed ${ManifestLog.encode(r)}")
      r.getClass
    }.toSet
    assert(kinds.size == 24, kinds)
  }
}
