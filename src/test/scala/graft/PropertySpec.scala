package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import graft.analyse.{ForeignKey, Topo}
import graft.anonymise.Faker
import graft.dialect.SqlValueCodec
import graft.ops.Dedup

/** Property tests for the pure kernels, driven by ScalaCheck generators
  * with deterministic seeds (no scalatestplus bridge on the classpath —
  * samples are drawn explicitly).
  */
class PropertySpec extends AnyFunSuite {

  private def samples[T](g: Gen[T], n: Int = 300): Seq[T] =
    (0 until n * 3).iterator
      .flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))
      .take(n).toSeq

  private val strGen = Arbitrary.arbitrary[String]

  test("escapeString: always single-quote-delimited, escaped set never raw inside") {
    for (s <- samples(strGen)) {
      val out = SqlValueCodec.escapeString(s)
      assert(out.head == '\'' && out.last == '\'')
      val inner = out.substring(1, out.length - 1)
      assert(!inner.replace("''", "").contains("'"), s"unescaped quote for ${s.length}-char input")
      assert(!inner.contains('\u0000') && !inner.contains('\n') &&
        !inner.contains('\r') && !inner.contains('\u001a'))
    }
  }

  test("escapeString is injective") {
    val in = samples(strGen, 500).distinct
    val escaped = in.map(SqlValueCodec.escapeString)
    assert(in.size == escaped.distinct.size)
  }

  test("topo sort: output is a permutation respecting every acyclic FK edge") {
    val caseGen = for {
      k <- Gen.chooseNum(2, 8)
      tables <- Gen.listOfN(k, Gen.identifier.map(_.take(5))).map(_.distinct)
        .suchThat(_.size >= 2)
      m <- Gen.chooseNum(0, 12)
      edges <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0, tables.size - 1)
        b <- Gen.chooseNum(0, tables.size - 1)
      } yield ForeignKey(tables(a), "c", tables(b), "id"))
    } yield (tables, edges)

    for ((tables, fks) <- samples(caseGen, 200)) {
      val out = Topo.sortTablesByDependency(tables, fks)
      assert(out.sorted == tables.sorted, "must be a permutation")
      val pos = out.zipWithIndex.toMap
      val cyclic = unresolvable(tables, fks)
      for (fk <- fks
           if fk.table != fk.referencedTable
           if !cyclic(fk.table) && !cyclic(fk.referencedTable))
        assert(pos(fk.referencedTable) < pos(fk.table), s"$fk violated in $out")
    }
  }

  /** Nodes that can never be resolved by Kahn (on/behind a cycle). */
  private def unresolvable(tables: Seq[String], fks: Seq[ForeignKey]): Set[String] = {
    val deps = fks.filter(f => f.table != f.referencedTable)
      .groupBy(_.table).view.mapValues(_.map(_.referencedTable).toSet).toMap
    var resolved = Set.empty[String]
    var changed = true
    while (changed) {
      changed = false
      for (t <- tables if !resolved(t)
           if deps.getOrElse(t, Set.empty).subsetOf(resolved)) {
        resolved += t; changed = true
      }
    }
    tables.toSet -- resolved
  }

  test("faker: deterministic per seed; contracts hold across the full Long range") {
    for (seed <- samples(Arbitrary.arbitrary[Long], 500)) {
      assert(Faker.name(seed) == Faker.name(seed))
      assert(Faker.uuid(seed).matches(
        "^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$"))
      assert(Faker.number(seed).matches("^[0-9]{8}$"))
      assert(Faker.password(seed).length == 32)
      assert(Faker.ipv4(seed).split("\\.").forall(o => o.toInt >= 0 && o.toInt <= 255))
      assert(Faker.email(seed).matches("^[^@]+@[^@]+\\.[^@]+$"))
    }
  }

  test("shingle kernel: n-token shingles, bounded count, distinct") {
    val textGen = for {
      k <- Gen.chooseNum(0, 30)
      ws <- Gen.listOfN(k, Gen.oneOf("the", "a", "fast", "slow", "data", "x"))
    } yield ws.mkString(" ")
    for {
      text <- samples(textGen, 300)
      n <- 2 to 4
    } {
      val toks = text.split("\\s+").filter(_.nonEmpty)
      val out = Dedup.shingleKernel(text, n)
      if (toks.length < n) assert(out.isEmpty)
      else {
        assert(out.length <= toks.length - n + 1)
        assert(out.distinct.length == out.length)
        assert(out.forall(_.split(" ").length == n))
      }
    }
  }

  test("segment kernel: segments tile the token sequence exactly") {
    val textGen = for {
      k <- Gen.chooseNum(0, 60)
      ws <- Gen.listOfN(k, Gen.oneOf("the", "a", "fast", "slow", "data", "x"))
      sep <- Gen.oneOf(" ", "  ", " \t ")
    } yield ws.mkString(sep)
    for {
      text <- samples(textGen, 300)
      seg <- Seq(1, 3, 10)
    } {
      val toks = text.split("\\s+").filter(_.nonEmpty)
      val out = Dedup.segmentKernel(text, seg)
      assert(out.length == (toks.length + seg - 1) / seg)
      // segments rejoin to the normalised token sequence, in order
      assert(out.flatMap(_.split(" ").filter(_.nonEmpty)).toSeq == toks.toSeq)
      // every segment is full except possibly the last
      out.dropRight(1).foreach(s => assert(s.split(" ").length == seg))
    }
  }

  test("wav headers: build→parse is the identity over the parameter space") {
    val caseGen = for {
      ch <- Gen.chooseNum(1, 8)
      rate <- Gen.oneOf(8000, 11025, 16000, 22050, 44100, 48000, 96000)
      bits <- Gen.oneOf(8, 16, 24, 32)
      n <- Gen.chooseNum(0, 500)
    } yield (ch, rate, bits, n)
    for ((ch, rate, bits, n) <- samples(caseGen, 200)) {
      val built = ops.Multimodal.WavHeaders.build(ch, rate, bits, new Array[Byte](n))
      val m = ops.Multimodal.WavHeaders.parse(built)
        .getOrElse(fail(s"built wav ($ch/$rate/$bits/$n) did not parse"))
      assert(m.channels == ch && m.sampleRate == rate && m.bitsPerSample == bits)
      assert(m.dataBytes == n.toLong)
      assert(m.byteRate == rate.toLong * ch * bits / 8)
      assert(m.durationMs == n.toLong * 1000 / m.byteRate)
    }
  }

  test("wav headers: parse never throws on corrupt bytes (mutations + noise)") {
    val rnd = new scala.util.Random(23)
    val valid = ops.Multimodal.WavHeaders.build(2, 16000, 16, Array.fill(64)(7: Byte))
    // every truncation of a valid file
    for (len <- 0 to valid.length)
      ops.Multimodal.WavHeaders.parse(valid.take(len)) // must not throw
    // point mutations — including the chunk-size fields (overflow,
    // negative-as-unsigned, no-progress walks)
    for (_ <- 0 until 2000) {
      val b = valid.clone()
      val k = 1 + rnd.nextInt(4)
      for (_ <- 0 until k) b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      ops.Multimodal.WavHeaders.parse(b) // must not throw
    }
    // pure noise with a RIFF/WAVE prefix to force the walk
    for (_ <- 0 until 500) {
      val b = new Array[Byte](12 + rnd.nextInt(64))
      rnd.nextBytes(b)
      System.arraycopy("RIFF".getBytes, 0, b, 0, 4)
      if (b.length >= 12) System.arraycopy("WAVE".getBytes, 0, b, 8, 4)
      ops.Multimodal.WavHeaders.parse(b) // must not throw
    }
  }

  test("formatValue: numeric round-trip through the literal") {
    for (l <- samples(Arbitrary.arbitrary[Long], 300))
      assert(SqlValueCodec.formatValue(l) == l.toString)
    for (d <- samples(Arbitrary.arbitrary[Double], 300) if !d.isNaN && !d.isInfinite) {
      val rendered = SqlValueCodec.formatValue(d)
      assert(rendered.toDouble == d, s"double $d rendered as $rendered")
    }
  }

  test("dump tuple round-trip: escape → tokenize → decode is the identity for strings") {
    import graft.sources.SqlDumpPartitionReader.tokenize
    for (ss <- samples(Gen.listOfN(3, strGen), 300)) {
      val line = "(" + ss.map(SqlValueCodec.escapeString).mkString(", ") + ");"
      val toks = tokenize(line)
      assert(toks.toSeq == ss, s"round-trip mismatch for ${ss.map(_.length)}-char inputs")
    }
  }

  test("dump binary round-trip: formatBinary → tokenize → decodeBinary is the identity") {
    val bytesGen = Gen.chooseNum(0, 64).flatMap(n =>
      Gen.listOfN(n, Arbitrary.arbitrary[Byte]).map(_.toArray))
    for (bs <- samples(bytesGen, 300)) {
      val line = "(" + SqlValueCodec.formatBinary(bs) + ", 'x');"
      val toks = graft.sources.SqlDumpPartitionReader.tokenize(line)
      assert(SqlValueCodec.decodeBinary(toks(0)).toSeq == bs.toSeq)
      assert(toks(1) == "x")
    }
  }

  test("mp4 round-trip: build → parse / buildWithSamples → parseSamples are identities") {
    import graft.ops.Multimodal.Mp4Boxes
    val dimsGen = for {
      w <- Gen.chooseNum(1, 8191) // 16.16 fixed point is exact to 2^15-1
      h <- Gen.chooseNum(1, 8191)
      ms <- Gen.chooseNum(0L, 47721858L) // durUnits = ms*90 must fit u31
      nData <- Gen.chooseNum(0, 64)
    } yield (w, h, ms, nData)
    for ((w, h, ms, nData) <- samples(dimsGen, 200)) {
      val bytes = Mp4Boxes.build(w, h, ms, Array.fill(nData)(0x5a.toByte))
      assert(bytes.length == 244 + nData)
      assert(Mp4Boxes.parse(bytes) == Some(Mp4Boxes.Mp4Meta(w, h, ms)),
        s"movie parse drifted for ${w}x$h $ms")
    }
    val sampleGen = for {
      w <- Gen.chooseNum(1, 4096)
      h <- Gen.chooseNum(1, 4096)
      ms <- Gen.chooseNum(0L, 1000000L)
      ts <- Gen.chooseNum(1, 1000000)
      delta <- Gen.chooseNum(1, 100000)
      sizes <- Gen.chooseNum(0, 40).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(0, 5000)).map(_.toArray))
    } yield (w, h, ms, ts, delta, sizes)
    for ((w, h, ms, ts, delta, sizes) <- samples(sampleGen, 200)) {
      val bytes = Mp4Boxes.buildWithSamples(w, h, ms, ts, delta, sizes)
      assert(bytes.length == 377 + 4 * sizes.length + sizes.sum)
      val got = Mp4Boxes.parseSamples(bytes)
      // n = 0 still reports the stts run header's delta (one run of
      // zero samples), not the VFR sentinel
      assert(got == Some(Mp4Boxes.SampleMeta(ts.toLong, sizes.length.toLong * delta,
        sizes.length.toLong, delta.toLong,
        sizes.map(_.toLong).sum, if (sizes.isEmpty) 0L else sizes.max.toLong)),
        s"sample parse drifted: $got for n=${sizes.length} delta=$delta ts=$ts")
      assert(Mp4Boxes.parse(bytes) == Some(Mp4Boxes.Mp4Meta(w, h, ms)))
    }
  }

  test("mp4 parse never throws on corrupt bytes (truncations, mutations, noise)") {
    import graft.ops.Multimodal.Mp4Boxes
    val rnd = new scala.util.Random(41)
    val valid = Mp4Boxes.buildWithSamples(320, 180, 5000L, 12800, 512,
      Array(100, 200, 64))
    // every truncation of a valid file — both parsers must decline or
    // succeed, never throw (the review-found v1 guard bug was exactly
    // a truncation crash)
    for (len <- 0 to valid.length) {
      Mp4Boxes.parse(valid.take(len))
      Mp4Boxes.parseSamples(valid.take(len))
    }
    // point mutations, including size fields (overflow, negative-as-
    // unsigned, largesize switches, no-progress walks)
    for (_ <- 0 until 3000) {
      val b = valid.clone()
      val k = 1 + rnd.nextInt(4)
      for (_ <- 0 until k) b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      Mp4Boxes.parse(b); Mp4Boxes.parseSamples(b)
    }
    // pure noise behind a valid ftyp prefix to force the walk
    for (_ <- 0 until 1000) {
      val b = new Array[Byte](8 + rnd.nextInt(128))
      rnd.nextBytes(b)
      System.arraycopy(Array[Byte](0, 0, 0, 16), 0, b, 0, math.min(4, b.length))
      if (b.length >= 8) System.arraycopy("ftyp".getBytes, 0, b, 4, 4)
      Mp4Boxes.parse(b); Mp4Boxes.parseSamples(b)
    }
  }

  test("dump timestamp round-trip: formatInstant → parseTimestampMicros is exact micros") {
    val microsGen = Gen.chooseNum(-62135596800000000L, 253402300799999999L) // years 1..9999
    for (micros <- samples(microsGen, 500)) {
      val inst = java.time.Instant.ofEpochSecond(
        Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)
      val text = SqlValueCodec.formatInstant(inst)
      assert(SqlValueCodec.parseTimestampMicros(text) == micros,
        s"micros $micros rendered '$text'")
    }
  }
}
