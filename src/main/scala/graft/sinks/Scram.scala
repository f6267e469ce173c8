package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8
import java.text.Normalizer
import java.util.Base64
import javax.crypto.{Mac, SecretKeyFactory}
import javax.crypto.spec.{PBEKeySpec, SecretKeySpec}

/** SCRAM-SHA-256 (RFC 5802 framing, RFC 7677 hash suite) — the SASL
  * mechanism MongoDB 4.0+ authenticates with, and therefore the auth
  * layer implied by the reference's credentialed connection strings
  * (reference: src/ecs_service.rs:57-107 builds MONGODB_URI /
  * DOCUMENTDB_URI client options; the Rust driver negotiates
  * SCRAM-SHA-256 under the hood). Pure functions over JDK crypto
  * (HmacSHA256 / PBKDF2WithHmacSHA256 / SHA-256) — no wire knowledge;
  * MongoWire owns the saslStart/saslContinue command framing and
  * StubMongoServer the verification side.
  *
  * Both sides of the exchange live here so the client computation and
  * the server verification share one implementation of the RFC's
  * derivations:
  *
  *   SaltedPassword = Hi(SASLprep(password), salt, i)   [PBKDF2]
  *   ClientKey      = HMAC(SaltedPassword, "Client Key")
  *   StoredKey      = H(ClientKey)
  *   ServerKey      = HMAC(SaltedPassword, "Server Key")
  *   AuthMessage    = client-first-bare + "," + server-first + ","
  *                    + client-final-without-proof
  *   ClientProof    = ClientKey XOR HMAC(StoredKey, AuthMessage)
  *   ServerSignature= HMAC(ServerKey, AuthMessage)
  *
  * The server stores only (salt, i, StoredKey, ServerKey) — it can
  * verify a proof (recover ClientKey by XOR, hash, compare) without
  * ever holding the password, and the client proves possession without
  * sending it. The client MUST verify ServerSignature on the final
  * leg: that is the mutual-auth half that stops a fake server from
  * silently accepting writes.
  */
object Scram {

  private val b64 = Base64.getEncoder
  private val b64d = Base64.getDecoder

  def h(data: Array[Byte]): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-256").digest(data)

  def hmac(key: Array[Byte], data: String): Array[Byte] = {
    val mac = Mac.getInstance("HmacSHA256")
    mac.init(new SecretKeySpec(key, "HmacSHA256"))
    mac.doFinal(data.getBytes(UTF_8))
  }

  /** Hi() from RFC 5802 = PBKDF2-HMAC-SHA-256 with dkLen = H's output. */
  def hi(password: String, salt: Array[Byte], iterations: Int): Array[Byte] = {
    val spec = new PBEKeySpec(password.toCharArray, salt, iterations, 256)
    SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
      .generateSecret(spec).getEncoded
  }

  def xor(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(a.length == b.length, s"xor length mismatch: ${a.length} vs ${b.length}")
    a.zip(b).map { case (x, y) => (x ^ y).toByte }
  }

  /** Minimal SASLprep (RFC 4013) for the stringprep'd password: NFKC
    * normalize, map non-ASCII space variants to ' ', reject control and
    * unassigned characters. Covers the profile's mapping + prohibition
    * tables for the character ranges real passwords use; full bidi
    * handling is out of scope (ASCII passwords — the overwhelmingly
    * common case and everything the tests exercise — pass through
    * unchanged, as the RFC requires). */
  def saslPrep(s: String): String = {
    // RFC 3454 C.1.2 non-ASCII spaces -> ' '; B.1 commonly-mapped-to-
    // nothing (soft hyphen, zero-width joiners, BOM) -> removed.
    val mapped = s.map { c =>
      if (c == '\u00A0' || (c >= '\u2000' && c <= '\u200A') ||
          c == '\u1680' || c == '\u202F' || c == '\u205F' || c == '\u3000') ' '
      else c
    }.filterNot(c => c == '\u00AD' || c == '\u200B' || c == '\u200C' ||
      c == '\u200D' || c == '\uFEFF')
    val norm = Normalizer.normalize(mapped, Normalizer.Form.NFKC)
    norm.foreach { c =>
      require(!Character.isISOControl(c) && Character.getType(c) != Character.UNASSIGNED,
        f"prohibited character U+${c.toInt}%04X in SASL password")
    }
    norm
  }

  /** `=` and `,` are structural in SCRAM attribute values; usernames
    * escape them (RFC 5802 §5.1 saslname). */
  def escapeUsername(u: String): String =
    u.replace("=", "=3D").replace(",", "=2C")

  /** Parses `k1=v1,k2=v2,...` SCRAM messages; values may contain '='
    * (base64 padding), so split only on the FIRST '=' per attribute. */
  def parseAttributes(msg: String): Map[Char, String] =
    msg.split(",").iterator.filter(_.nonEmpty).map { kv =>
      require(kv.length >= 2 && kv(1) == '=', s"malformed SCRAM attribute: $kv")
      kv(0) -> kv.substring(2)
    }.toMap

  /** gs2-header "n,," = no channel binding; its base64 is the `c=`
    * value every client-final carries. */
  val Gs2Header = "n,,"
  val Gs2HeaderB64: String = b64.encodeToString(Gs2Header.getBytes(UTF_8)) // "biws"

  def clientFirstBare(user: String, clientNonce: String): String =
    s"n=${escapeUsername(user)},r=$clientNonce"

  /** Everything the client derives once it has the server-first reply.
    * `proofB64` goes in the client-final `p=`; `serverSignatureB64` is
    * what a genuine server must echo back in `v=`. */
  final case class ClientDerivation(clientFinal: String, serverSignatureB64: String)

  def deriveClient(password: String, clientFirstBareMsg: String,
                   serverFirst: String): ClientDerivation = {
    val attrs = parseAttributes(serverFirst)
    val fullNonce = attrs('r')
    val clientNonce = parseAttributes(clientFirstBareMsg)('r')
    require(fullNonce.startsWith(clientNonce),
      "server nonce does not extend the client nonce (replayed or tampered exchange)")
    require(fullNonce.length > clientNonce.length, "server added no nonce entropy")
    val salt = b64d.decode(attrs('s'))
    val iterations = attrs('i').toInt
    require(iterations >= 4096, s"iteration count $iterations below RFC 7677 minimum")

    val saltedPassword = hi(saslPrep(password), salt, iterations)
    val clientKey = hmac(saltedPassword, "Client Key")
    val storedKey = h(clientKey)
    val serverKey = hmac(saltedPassword, "Server Key")
    val withoutProof = s"c=$Gs2HeaderB64,r=$fullNonce"
    val authMessage = s"$clientFirstBareMsg,$serverFirst,$withoutProof"
    val proof = xor(clientKey, hmac(storedKey, authMessage))
    ClientDerivation(
      clientFinal = s"$withoutProof,p=${b64.encodeToString(proof)}",
      serverSignatureB64 = b64.encodeToString(hmac(serverKey, authMessage)))
  }

  // ---- server side ----

  /** What a SCRAM server persists per user — salt/iterations plus the
    * two derived keys; the password itself is never stored. */
  final case class Credential(salt: Array[Byte], iterations: Int,
                              storedKey: Array[Byte], serverKey: Array[Byte])

  def credential(password: String, salt: Array[Byte], iterations: Int): Credential = {
    val saltedPassword = hi(saslPrep(password), salt, iterations)
    val clientKey = hmac(saltedPassword, "Client Key")
    Credential(salt, iterations, h(clientKey), hmac(saltedPassword, "Server Key"))
  }

  def serverFirstMessage(fullNonce: String, cred: Credential): String =
    s"r=$fullNonce,s=${b64.encodeToString(cred.salt)},i=${cred.iterations}"

  /** Verifies a client-final proof; Some(server-final `v=` message) on
    * success, None on a bad proof. Constant-time compare — a SCRAM
    * verifier that leaks prefix-match timing undoes the proof design. */
  def verifyClientFinal(cred: Credential, clientFirstBareMsg: String,
                        serverFirst: String, clientFinal: String): Option[String] = {
    val attrs = parseAttributes(clientFinal)
    val withoutProof = clientFinal.substring(0, clientFinal.lastIndexOf(",p="))
    val authMessage = s"$clientFirstBareMsg,$serverFirst,$withoutProof"
    val proof = b64d.decode(attrs('p'))
    val clientSignature = hmac(cred.storedKey, authMessage)
    if (proof.length != clientSignature.length) return None
    val recoveredClientKey = xor(proof, clientSignature)
    val ok = java.security.MessageDigest.isEqual(h(recoveredClientKey), cred.storedKey) &&
      attrs.get('c').contains(Gs2HeaderB64) &&
      parseAttributes(serverFirst)('r') == attrs('r')
    if (ok) Some(s"v=${b64.encodeToString(hmac(cred.serverKey, authMessage))}")
    else None
  }
}
