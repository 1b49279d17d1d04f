package graft.pipes

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.security.{KeyPair, KeyPairGenerator, PrivateKey, PublicKey, SecureRandom, Signature}

import javax.crypto.{Cipher, KeyGenerator, SecretKey}
import javax.crypto.spec.{GCMParameterSpec, SecretKeySpec}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

/** Encrypt+sign / decrypt+verify file stage — the reference's PGP chain
  * (/root/reference/pipe/file.go:384-437 encrypt+sign on write, :898-960
  * decrypt+verify on read) re-expressed over JDK JCA primitives, since no
  * OpenPGP provider ships in-container. The construction IS the OpenPGP
  * hybrid model:
  *
  *  - per-file random AES-256 session key, wrapped with the RECIPIENT's
  *    RSA-OAEP public key (PGP's public-key encrypted session key packet)
  *  - sign-then-encrypt: SHA256withRSA signature by the SENDER's private
  *    key over the plaintext, carried INSIDE the encrypted envelope
  *    (PGP one-pass signature layout)
  *  - AES-GCM for the body, so tampering fails authentication before
  *    signature verification even runs
  *
  * Wire format per file:
  * `GRFE1 | u16 wrappedKeyLen | wrappedKey | 12-byte IV |
  *  GCM(u32 sigLen | sig | payload)`.
  *
  * Scale: [[encryptDir]]/[[decryptDir]] transform committed files, so
  * they keep their own pass: task-side over the Hadoop FileSystem, through
  * the per-file tasks of the standalone `FileSink.writeDoneManifest`
  * (`FileSink.mapFileTasks`: names sliced into tasks, no shuffle) —
  * thousands of 1 GB files encrypt in parallel across executors, nothing
  * streams through the driver.
  */
object CryptoStage {

  private val Magic = "GRFE1".getBytes("US-ASCII")

  def generateKeyPair(): KeyPair = {
    val kg = KeyPairGenerator.getInstance("RSA")
    kg.initialize(2048)
    kg.generateKeyPair()
  }

  /** Sign-then-encrypt one payload. */
  def encrypt(payload: Array[Byte], recipient: PublicKey,
              signer: PrivateKey): Array[Byte] = {
    val sig = Signature.getInstance("SHA256withRSA")
    sig.initSign(signer)
    sig.update(payload)
    val sigBytes = sig.sign()

    val kg = KeyGenerator.getInstance("AES")
    kg.init(256)
    val session: SecretKey = kg.generateKey()
    val iv = new Array[Byte](12)
    new SecureRandom().nextBytes(iv)

    val wrap = Cipher.getInstance("RSA/ECB/OAEPWithSHA-256AndMGF1Padding")
    wrap.init(Cipher.ENCRYPT_MODE, recipient)
    val wrappedKey = wrap.doFinal(session.getEncoded)

    val body = new ByteArrayOutputStream()
    val bodyOut = new DataOutputStream(body)
    bodyOut.writeInt(sigBytes.length)
    bodyOut.write(sigBytes)
    bodyOut.write(payload)
    bodyOut.flush()

    val gcm = Cipher.getInstance("AES/GCM/NoPadding")
    gcm.init(Cipher.ENCRYPT_MODE, session, new GCMParameterSpec(128, iv))
    val ct = gcm.doFinal(body.toByteArray)

    val out = new ByteArrayOutputStream()
    val d = new DataOutputStream(out)
    d.write(Magic)
    d.writeShort(wrappedKey.length)
    d.write(wrappedKey)
    d.write(iv)
    d.write(ct)
    d.flush()
    out.toByteArray
  }

  /** Decrypt-then-verify; throws on bad magic, failed GCM auth, or a bad
    * signature (the reference's read chain also hard-fails —
    * pipe/file.go:898-960).
    */
  def decrypt(blob: Array[Byte], recipient: PrivateKey,
              signer: PublicKey): Array[Byte] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(blob))
    val magic = new Array[Byte](Magic.length)
    in.readFully(magic)
    require(java.util.Arrays.equals(magic, Magic), "not a GRFE1 envelope")
    val wrappedKey = new Array[Byte](in.readUnsignedShort())
    in.readFully(wrappedKey)
    val iv = new Array[Byte](12)
    in.readFully(iv)
    val ct = in.readAllBytes()

    val unwrap = Cipher.getInstance("RSA/ECB/OAEPWithSHA-256AndMGF1Padding")
    unwrap.init(Cipher.DECRYPT_MODE, recipient)
    val session = new SecretKeySpec(unwrap.doFinal(wrappedKey), "AES")

    val gcm = Cipher.getInstance("AES/GCM/NoPadding")
    gcm.init(Cipher.DECRYPT_MODE, session, new GCMParameterSpec(128, iv))
    val body = gcm.doFinal(ct) // throws AEADBadTagException on tamper

    val bodyIn = new DataInputStream(new java.io.ByteArrayInputStream(body))
    val sigBytes = new Array[Byte](bodyIn.readInt())
    bodyIn.readFully(sigBytes)
    val payload = bodyIn.readAllBytes()

    val sig = Signature.getInstance("SHA256withRSA")
    sig.initVerify(signer)
    sig.update(payload)
    require(sig.verify(sigBytes), "signature verification failed")
    payload
  }

  // --------------------------------------------- directory stage (task-side)

  private def mapFiles(spark: SparkSession, path: String, suffixFrom: String,
                       suffixTo: String)(xform: Array[Byte] => Array[Byte]): Long = {
    val dir = new HPath(path)
    // never re-process already-transformed files (encryptDir is
    // idempotent: a second pass finds nothing to encrypt)
    val names = FileSink.dataFiles(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
      .filter(n => n.endsWith(suffixFrom) && (suffixTo.isEmpty || !n.endsWith(suffixTo)))

    // Phase 1 — transform only. Retry-safe under Spark's task contract:
    // sources are NOT deleted here, so a task retry (or speculative twin)
    // re-reads an intact source. Encryption is NON-deterministic (fresh
    // session key + IV per attempt), so two attempts produce different —
    // but each individually valid — destination bytes; interleaving them
    // in one overwrite-created file would corrupt the envelope. Each
    // attempt therefore writes to an attempt-unique dot-temp (invisible to
    // the data-file listing) and renames into place: the destination only
    // ever holds one COMPLETE envelope, from whichever attempt committed
    // last. A pre-existing destination (stale output of a crashed prior
    // run) is deleted before the rename — the source is still intact, so
    // replacing it with this attempt's complete envelope is always safe;
    // sources are only deleted in phase 2, after every transform task
    // succeeded. A failed rename with the destination present means a
    // competing attempt committed in the window — its envelope is equally
    // valid, so this attempt just discards its temp. A name whose source
    // is already gone but whose destination exists was finished by an
    // earlier run and is skipped.
    FileSink.mapFileTasks(spark, path, names) { (fs, src) =>
      val d = src.getParent
      val dst = new HPath(d, src.getName.stripSuffix(suffixFrom) + suffixTo)
      if (!fs.exists(src)) {
        require(fs.exists(dst), s"crypto stage: ${src.getName} vanished without output")
      } else {
        val inS = fs.open(src)
        val bytes = try inS.readAllBytes() finally inS.close()
        val tmp = new HPath(d, s".${dst.getName}.${java.util.UUID.randomUUID()}.tmp")
        val out = fs.create(tmp, true)
        try out.write(xform(bytes)) finally out.close()
        if (fs.exists(dst)) fs.delete(dst, false) // stale prior output
        if (!fs.rename(tmp, dst)) {
          if (!fs.exists(dst))
            throw new java.io.IOException(s"crypto stage commit failed: $tmp -> $dst")
          fs.delete(tmp, false) // competing attempt committed a valid envelope
        }
      }
    }

    // Phase 2 — delete sources, in a SEPARATE job that only starts after
    // every transform task succeeded. fs.delete of a missing file is a
    // no-op, so retries here are trivially idempotent.
    FileSink.mapFileTasks(spark, path, names)((fs, src) => fs.delete(src, false))

    names.size.toLong
  }

  /** Encrypt every data file in `path` in executor tasks; each `<name>`
    * becomes `<name>.grfe`. Keys ship in the closure as encoded bytes
    * (public recipient key + sender private signing key — the producer
    * side holds both, like the reference's file pipe config).
    */
  def encryptDir(spark: SparkSession, path: String, recipient: PublicKey,
                 signer: PrivateKey): Long = {
    val pub = recipient.getEncoded
    val priv = signer.getEncoded
    mapFiles(spark, path, "", ".grfe") { bytes =>
      encrypt(bytes, decodePublic(pub), decodePrivate(priv))
    }
  }

  /** Decrypt+verify every `.grfe` file back to its original name. */
  def decryptDir(spark: SparkSession, path: String, recipient: PrivateKey,
                 signer: PublicKey): Long = {
    val priv = recipient.getEncoded
    val pub = signer.getEncoded
    mapFiles(spark, path, ".grfe", "") { bytes =>
      decrypt(bytes, decodePrivate(priv), decodePublic(pub))
    }
  }

  /** OpenPGP (RFC 4880) variant of the directory stage: every data file
    * becomes a gpg-interoperable `.gpg` message (SKESK + SEIPD/MDC — see
    * [[Pgp]]); the consumer side decrypts with the shared passphrase.
    * This is the reference's actual wire format
    * (/root/reference/pipe/file.go:384-437), whereas [[encryptDir]] is
    * the same construction under a private envelope with signatures.
    */
  def encryptDirPgp(spark: SparkSession, path: String, passphrase: String): Long =
    mapFiles(spark, path, "", ".gpg") { bytes =>
      Pgp.encryptSym(bytes, passphrase.toCharArray)
    }

  /** Decrypt every `.gpg` file back to its original name (MDC verified). */
  def decryptDirPgp(spark: SparkSession, path: String, passphrase: String): Long =
    mapFiles(spark, path, ".gpg", "") { bytes =>
      Pgp.decryptSym(bytes, passphrase.toCharArray)
    }

  def decodePublic(encoded: Array[Byte]): PublicKey =
    java.security.KeyFactory.getInstance("RSA")
      .generatePublic(new java.security.spec.X509EncodedKeySpec(encoded))

  def decodePrivate(encoded: Array[Byte]): PrivateKey =
    java.security.KeyFactory.getInstance("RSA")
      .generatePrivate(new java.security.spec.PKCS8EncodedKeySpec(encoded))
}
