package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.spotify.SpotifyTransport

/** A seeded stand-in for the Spotify Web API: every response body is
  * rendered once, from the seed, when the transport is built, so a daily
  * extract over it times the client and the pipeline, not the generator.
  *
  * The catalog has the rough shape of a new-releases page: `nAlbums`
  * albums of 0-20 tracks (zero-track albums are skipped by the extractor),
  * with seeded rates of artists that fail to resolve, artists without
  * genres and tracks whose audio features come back null. [[expected]]
  * holds the row counts `Pipeline.run` must report for one extract.
  */
final class SyntheticSpotify(seed: Long, nAlbums: Int = 50) extends SpotifyTransport {
  private val mapper = new ObjectMapper()
  private val rng = new java.util.SplittableRandom(seed)
  private val idChars = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
  private def id(prefix: String): String =
    prefix + Iterator.fill(20)(idChars.charAt(rng.nextInt(idChars.length))).mkString

  private final case class Track(id: String, body: ObjectNode, feature: Option[ObjectNode])
  private final case class Album(id: String, body: ObjectNode, artistId: String,
      tracks: Seq[Track])

  private val albums: Seq[Album] = (0 until nAlbums).map { a =>
    val albumId = id("al")
    val artistId = id("ar")
    val nTracks = if (rng.nextDouble() < 0.04) 0 else 1 + rng.nextInt(20)
    val body = mapper.createObjectNode()
    body.put("id", albumId)
    body.put("name", s"Album $a")
    body.put("type", Seq("album", "single", "compilation")(rng.nextInt(3)))
    body.put("release_date", f"${1990 + rng.nextInt(35)}%d-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d")
    body.put("total_tracks", nTracks)
    if (rng.nextDouble() < 0.9) body.put("popularity", rng.nextInt(101))
    val artists = body.putArray("artists")
    val artist = artists.addObject()
    artist.put("id", artistId)
    artist.put("name", s"Artist $a")
    if (rng.nextDouble() < 0.9) body.putArray("images").addObject()
      .put("url", s"https://i.scdn.co/image/$albumId")
    body.putObject("external_urls").put("spotify", s"https://open.spotify.com/album/$albumId")
    val markets = body.putArray("available_markets")
    Seq("US", "ES", "MX", "DE", "FR", "GB").foreach(m => if (rng.nextBoolean()) markets.add(m))
    val tracks = (0 until nTracks).map { t =>
      val trackId = id("tr")
      val tb = mapper.createObjectNode()
      tb.put("id", trackId)
      tb.put("name", s"Track $a-$t")
      tb.put("track_number", t + 1)
      tb.put("duration_ms", 90000L + rng.nextInt(330000))
      if (rng.nextDouble() < 0.95) tb.put("explicit", rng.nextDouble() < 0.2)
      val ta = tb.putArray("artists").addObject()
      ta.put("id", artistId)
      if (rng.nextDouble() < 0.97) ta.put("name", s"Artist $a")
      tb.putObject("external_urls").put("spotify", s"https://open.spotify.com/track/$trackId")
      val feature = if (rng.nextDouble() < 0.08) None else {
        val f = mapper.createObjectNode()
        f.put("id", trackId)
        f.put("danceability", rng.nextInt(1000) / 1000.0)
        f.put("energy", rng.nextInt(1000) / 1000.0)
        f.put("loudness", -rng.nextInt(30000) / 1000.0)
        f.put("tempo", 60 + rng.nextInt(140000) / 1000.0)
        Some(f)
      }
      Track(trackId, tb, feature)
    }
    Album(albumId, body, artistId, tracks)
  }

  private val releasesBody: String = {
    val root = mapper.createObjectNode()
    val items = root.putObject("albums").putArray("items")
    albums.foreach(a => items.add(a.body))
    mapper.writeValueAsString(root)
  }
  private val tracksBody: Map[String, String] = albums.map { a =>
    val root = mapper.createObjectNode()
    val items = root.putArray("items")
    a.tracks.foreach(t => items.add(t.body))
    a.id -> mapper.writeValueAsString(root)
  }.toMap
  // one artist in ten fails to resolve (the client then stores null
  // details); of the rest, one in five has no genres
  private val artistBody: Map[String, String] = albums.flatMap { a =>
    if (rng.nextDouble() < 0.1) None
    else {
      val d = mapper.createObjectNode()
      d.put("id", a.artistId)
      d.put("name", s"Artist ${a.artistId.takeRight(4)}")
      d.put("popularity", rng.nextInt(101))
      val genres = d.putArray("genres")
      if (rng.nextDouble() >= 0.2)
        Seq("pop", "rock", "latin", "indie", "jazz").foreach(g => if (rng.nextBoolean()) genres.add(g))
      d.putObject("followers").put("total", rng.nextInt(1000000).toLong)
      Some(a.artistId -> mapper.writeValueAsString(d))
    }
  }.toMap
  private val featureBody: Map[String, String] = albums.flatMap(_.tracks).map { t =>
    t.id -> t.feature.map(mapper.writeValueAsString).getOrElse("null")
  }.toMap
  private val categoriesBody: String =
    """{"categories":{"items":[{"id":"toplists","name":"Top Lists","href":"h"},{"id":"pop","name":"Pop","href":"h"}]}}"""

  @volatile var requests: Long = 0L
  @volatile var firstCallNs: Long = 0L
  @volatile var lastCallNs: Long = 0L

  override def get(endpoint: String, params: Map[String, String]): Option[String] = {
    val t0 = System.nanoTime()
    if (requests == 0) firstCallNs = t0
    requests += 1
    val body = endpoint match {
      case "/browse/new-releases" => Some(releasesBody)
      case "/browse/categories" => Some(categoriesBody)
      case "/audio-features" =>
        Some(params("ids").split(",").map(featureBody).mkString("{\"audio_features\":[", ",", "]}"))
      case e if e.startsWith("/albums/") => tracksBody.get(e.stripPrefix("/albums/").stripSuffix("/tracks"))
      case e if e.startsWith("/artists/") => artistBody.get(e.stripPrefix("/artists/"))
      case _ => None
    }
    lastCallNs = System.nanoTime()
    body
  }

  /** Row counts one extract over this transport must produce. */
  val expected: Map[String, Long] = {
    val kept = albums.filter(_.tracks.nonEmpty)
    val tracks = kept.flatMap(_.tracks)
    Map("albums" -> kept.size.toLong, "tracks" -> tracks.size.toLong,
      "audio_features" -> tracks.count(_.feature.isDefined).toLong,
      "categories" -> 0L, "tracks_with_features" -> tracks.size.toLong)
  }

  /** SHA-256 over every response body, for the same-seed self-check. */
  def digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (Seq(releasesBody, categoriesBody) ++ tracksBody.toSeq.sorted.map(_._2) ++
      artistBody.toSeq.sorted.map(_._2) ++ featureBody.toSeq.sorted.map(_._2))
      .foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
