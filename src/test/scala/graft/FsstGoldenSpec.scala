package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.codec._
import graft.synth.TokenSynth

/** Pins the exact bytes of FSST training and of auto-selection.
  *
  * `CodecSpec` checks FSST only for round trips, so a reordered symbol
  * table (another tie-break, another candidate order) would pass there
  * while changing every stored block. Here each `TokenSynth` regime is
  * cut into blocks of several sizes and seeds, and three things are
  * compared against literals: a 64-bit hash of `FsstCodec.encode`'s
  * `symtab ++ payload`, `FsstCodec.estimateBytes`, and a hash of
  * `BlockCodec.encodeAuto`'s (codecId, postCodec, symtab, payload).
  */
class FsstGoldenSpec extends AnyFunSuite {

  private val Sizes = Seq(100, 5000, 16384, 40000, 163840)
  private val Seeds = Seq(0L, 1L)

  /** The first `Sizes.max` tokens of each source, concatenated row by
    * row in id order; smaller blocks are prefixes.
    */
  private def blocks(seed: Long): Map[String, Array[Int]] = {
    val want = Sizes.max
    val bufs = TokenSynth.sources.map { case (src, _, _) => src -> new IntBuf(want) }.toMap
    var id = 0L
    while (bufs.values.exists(_.size < want)) {
      val r = TokenSynth.row(id, seed)
      val b = bufs(r.source)
      var i = 0
      while (i < r.tokens.length && b.size < want) { b.add(r.tokens(i)); i += 1 }
      id += 1
    }
    bufs.map { case (src, b) => src -> java.util.Arrays.copyOf(b.raw, want) }
  }

  private lazy val blocksBySeed: Map[Long, Map[String, Array[Int]]] =
    Seeds.map(s => s -> blocks(s)).toMap

  /** FNV-1a 64 over a sequence of byte arrays. */
  private def fnv(parts: Array[Byte]*): Long = {
    var h = 0xcbf29ce484222325L
    parts.foreach { p =>
      var i = 0
      while (i < p.length) { h ^= (p(i) & 0xFFL); h *= 0x100000001b3L; i += 1 }
    }
    h
  }

  /** (fsst hash, estimateBytes, auto codec id, auto post codec, auto hash) */
  private def observe(data: Array[Int]): (Long, Long, Int, Int, Long) = {
    val n = data.length
    val e = FsstCodec.encode(data, n)
    val fh = if (e == null) 0L else fnv(e.symtab, e.payload)
    val est = FsstCodec.estimateBytes(data, n)
    val a = BlockCodec.encodeAuto(data, n)
    (fh, est, a.codecId, a.postCodec,
      fnv(Array(a.codecId.toByte, a.postCodec.toByte), a.symtab, a.payload))
  }

  /** (source, tokens, seed) -> values recorded with the earlier
    * string-sorting trainer; any trainer must reproduce them exactly.
    */
  private val golden: Map[(String, Int, Long), (Long, Long, Int, Int, Long)] = Map(
    ("web", 100, 0L) -> (-6476416045520517083L, 455L, 8, 0, -7197029893692879713L),
    ("web", 5000, 0L) -> (3436368054629524387L, 9974L, 1, 1, -2819617861550797171L),
    ("web", 16384, 0L) -> (-3479279235698089601L, 32126L, 1, 1, 8877306275288353722L),
    ("web", 40000, 0L) -> (6109937329953105458L, 76647L, 1, 1, -5363093887559794197L),
    ("web", 163840, 0L) -> (2751143222038185717L, 310109L, 1, 1, 7945016930003914707L),
    ("web", 100, 1L) -> (-6232475274202885878L, 261L, 3, 1, 5314409028205951955L),
    ("web", 5000, 1L) -> (1407786859536357897L, 9972L, 1, 1, -7235594267708231178L),
    ("web", 16384, 1L) -> (5101078563741985376L, 32202L, 1, 1, 756300488791814064L),
    ("web", 40000, 1L) -> (-3769894300487574624L, 76846L, 1, 1, -7155976346168967371L),
    ("web", 163840, 1L) -> (3664075550855840874L, 310950L, 1, 1, 139413882287096914L),
    ("books", 100, 0L) -> (8865753854626333710L, 61L, 2, 0, 2054326622088325553L),
    ("books", 5000, 0L) -> (-8826948384982823447L, 1051L, 2, 0, -8153898379357286686L),
    ("books", 16384, 0L) -> (-3170851028442231137L, 2864L, 2, 0, -7865029484172666361L),
    ("books", 40000, 0L) -> (5633861581571420625L, 5915L, 2, 0, -3150958714468445902L),
    ("books", 163840, 0L) -> (1485889013832943502L, 21908L, 2, 1, -4184754552248340068L),
    ("books", 100, 1L) -> (5364462756354804076L, 65L, 2, 0, 7874332182998801117L),
    ("books", 5000, 1L) -> (8415559229146862501L, 1064L, 2, 0, 5002026247309867552L),
    ("books", 16384, 1L) -> (7829526259791462037L, 2880L, 2, 0, -2637342790360211809L),
    ("books", 40000, 1L) -> (-4379702089565752803L, 5935L, 2, 0, -7131625916147911348L),
    ("books", 163840, 1L) -> (5289569107922218481L, 21951L, 2, 1, 4749935104547962735L),
    ("code", 100, 0L) -> (-1616726419646674840L, 399L, 3, 0, 2066553517075747745L),
    ("code", 5000, 0L) -> (5850980593855443516L, 8667L, 3, 1, 6001780275252599059L),
    ("code", 16384, 0L) -> (-8956781005917539034L, 25995L, 3, 1, -1674798835117886317L),
    ("code", 40000, 0L) -> (-8418904259420832203L, 62590L, 3, 1, 7648693878312754510L),
    ("code", 163840, 0L) -> (-5019648657367736183L, 254487L, 3, 1, -6886216258092700994L),
    ("code", 100, 1L) -> (-1616726419646674840L, 399L, 3, 0, 2066553517075747745L),
    ("code", 5000, 1L) -> (5850980593855443516L, 8667L, 3, 1, 6001780275252599059L),
    ("code", 16384, 1L) -> (-3245857839783085002L, 25995L, 3, 1, -300747584656610641L),
    ("code", 40000, 1L) -> (-9053857737763491109L, 62590L, 3, 1, -6802832880735041938L),
    ("code", 163840, 1L) -> (7179321773465364526L, 254487L, 3, 1, -2862200431062935337L),
    ("wiki", 100, 0L) -> (-6758056710909110453L, 499L, 4, 0, -5968937789076236107L),
    ("wiki", 5000, 0L) -> (-6400636659842430149L, 10502L, 4, 0, 8501387648372988534L),
    ("wiki", 16384, 0L) -> (2746905291863951965L, 32816L, 4, 0, 398766766693647573L),
    ("wiki", 40000, 0L) -> (-3887495129763655182L, 78740L, 4, 0, 8915508490962765431L),
    ("wiki", 163840, 0L) -> (-5557577397276857249L, 319556L, 4, 0, -1810036589146193395L),
    ("wiki", 100, 1L) -> (-6758056710909110453L, 499L, 4, 0, -5968937789076236107L),
    ("wiki", 5000, 1L) -> (6388638780435116391L, 10502L, 4, 0, -416386479526208107L),
    ("wiki", 16384, 1L) -> (-7625257929987795238L, 32815L, 4, 0, -2493467642586228137L),
    ("wiki", 40000, 1L) -> (-3178950378924021431L, 78737L, 4, 0, -4614422444468186515L),
    ("wiki", 163840, 1L) -> (-7822281437154200930L, 319546L, 4, 0, 7202944909771355971L),
    ("news", 100, 0L) -> (-5562819266280036469L, 482L, 3, 0, -7691799193811540782L),
    ("news", 5000, 0L) -> (40347345098118466L, 6072L, 1, 0, 147267572989993219L),
    ("news", 16384, 0L) -> (2226429984266380060L, 17039L, 1, 0, 8037141280360241975L),
    ("news", 40000, 0L) -> (4217171128779204401L, 39458L, 1, 0, 4021671317956482111L),
    ("news", 163840, 0L) -> (3919857789967790159L, 157016L, 1, 0, 9052565438612462881L),
    ("news", 100, 1L) -> (-5562819266280036469L, 482L, 3, 0, -7691799193811540782L),
    ("news", 5000, 1L) -> (-2953809602075076838L, 6072L, 1, 0, -6790323571928626503L),
    ("news", 16384, 1L) -> (8487134826236756234L, 17039L, 1, 0, 3663768327165432660L),
    ("news", 40000, 1L) -> (-123035861997764384L, 39458L, 1, 0, 1958061898894969828L),
    ("news", 163840, 1L) -> (678149600790811739L, 157016L, 1, 0, -8738308913754910482L),
    ("logs", 100, 0L) -> (2908082796790662236L, 350L, 6, 0, -7414275019638251269L),
    ("logs", 5000, 0L) -> (82609163005401852L, 11409L, 6, 1, 8150412681513804184L),
    ("logs", 16384, 0L) -> (-4943163458213343137L, 34242L, 6, 1, 4553240847872373366L),
    ("logs", 40000, 0L) -> (3515554682951078231L, 82793L, 6, 1, 2834460035566564988L),
    ("logs", 163840, 0L) -> (814022885207088954L, 337389L, 6, 1, 3987916065151439137L),
    ("logs", 100, 1L) -> (2908082796790662236L, 350L, 6, 0, -7414275019638251269L),
    ("logs", 5000, 1L) -> (82609163005401852L, 11409L, 6, 1, 8150412681513804184L),
    ("logs", 16384, 1L) -> (-3031089138438700713L, 34242L, 6, 1, -4364623343937569344L),
    ("logs", 40000, 1L) -> (4562686995935731303L, 82793L, 6, 1, -2718842489461657616L),
    ("logs", 163840, 1L) -> (8867416285886213688L, 337389L, 6, 1, -3862082726925252374L),
    ("social", 100, 0L) -> (4350385136941477416L, 777L, 3, 0, -5176703237120869525L),
    ("social", 5000, 0L) -> (6808251226957391970L, 24451L, 3, 0, 1568913157428932489L),
    ("social", 16384, 0L) -> (8569026916750391544L, 79711L, 3, 0, -4478684260725805067L),
    ("social", 40000, 0L) -> (-6815299155416304526L, 193698L, 3, 0, 9099747246171345359L),
    ("social", 163840, 0L) -> (-2756437681202485273L, 791431L, 3, 0, 7074703254039305877L),
    ("social", 100, 1L) -> (-2638869870555328621L, 781L, 3, 0, 1174183745158754339L),
    ("social", 5000, 1L) -> (5029720952933786591L, 24453L, 3, 0, -4241410393301504509L),
    ("social", 16384, 1L) -> (-4094015482187652993L, 79713L, 3, 0, 5194061303006832169L),
    ("social", 40000, 1L) -> (-8353838342569622971L, 193703L, 3, 0, 8007299339385010560L),
    ("social", 163840, 1L) -> (-748735688978144435L, 791451L, 3, 0, -4901738429587711431L),
    ("arxiv", 100, 0L) -> (4385416381949354793L, 446L, 3, 0, 5217710372244411012L),
    ("arxiv", 5000, 0L) -> (3231066381710257249L, 3560L, 5, 1, -4001086163360385598L),
    ("arxiv", 16384, 0L) -> (1048897066213679632L, 8740L, 5, 1, -3481221393661019017L),
    ("arxiv", 40000, 0L) -> (1964010461068426799L, 19002L, 5, 1, 7128192617240727363L),
    ("arxiv", 163840, 0L) -> (230216639395672308L, 72811L, 5, 1, 1023769670940114680L),
    ("arxiv", 100, 1L) -> (4385416381949354793L, 446L, 3, 0, 5217710372244411012L),
    ("arxiv", 5000, 1L) -> (8272607089713382774L, 3548L, 5, 1, -5715874165358597951L),
    ("arxiv", 16384, 1L) -> (3274819895777121340L, 8739L, 5, 1, -1069321415426905163L),
    ("arxiv", 40000, 1L) -> (6834507551068006539L, 18999L, 5, 1, 2822190114191898633L),
    ("arxiv", 163840, 1L) -> (-2140104658097509494L, 72801L, 5, 1, -5319060330249939483L)
  )

  for ((src, _, regime) <- TokenSynth.sources.toSeq) {
    test(s"golden bytes: FSST encode, estimate and encodeAuto on $src ($regime)") {
      val diffs = for (seed <- Seeds; n <- Sizes) yield {
        val got = observe(blocksBySeed(seed)(src).take(n))
        val key = (src, n, seed)
        if (golden.get(key).contains(got)) None
        else Some(f"""    ("$src", $n, ${seed}L) -> (${got._1}L, ${got._2}L, ${got._3}, ${got._4}, ${got._5}L),""")
      }
      val bad = diffs.flatten
      assert(bad.isEmpty, bad.mkString("\nobserved:\n", "\n", ""))
    }
  }
}
