package graft.registry

import org.apache.spark.sql.functions.{col, lit, posexplode, round}

import graft.functions.HashFamily
import graft.operators.Multimodal
import graft.registry.BenchRole._
import graft.registry.Oracle.{NoOracle, SameAs, Sql}

/** Media rows over the binary media table: container parsing, features, fingerprints,
  * near-dup pairs and decisions, incremental and decontamination verdicts, quality rules,
  * curation and ingest decisions.
  */
object MultimodalQueries {

  /** The media-fingerprint CTE chain (mb → msh → msig): DuckDB replay of
    * `Multimodal.mediaSimHash` — the DISTINCT 8-byte sliding windows of
    * the UTF-8 payload (hex-pair sliced, stride 1), each hashed to the
    * first 60 bits of md5 of its uppercase-hex image, majority-voted
    * per bit. Shared by every mm fingerprint oracle so the chain cannot
    * drift between rows (the simHashClosureCtes convention).
    */
  private def mediaSigCtes: String =
    """mb AS (
           SELECT doc_id AS media_id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n
           FROM documents),
         msh AS (
           SELECT media_id, list_distinct(list_transform(
                    range(0, greatest(n - 7, 1), 1),
                    i -> ('0x' || substr(md5(substr(hx, CAST(2 * i + 1 AS INT), 16)), 1, 15))::BIGINT)) AS hs
           FROM mb),
         msig AS MATERIALIZED (
           SELECT media_id,
                  CASE WHEN len(hs) = 0 THEN 0
                       ELSE CAST(list_sum(list_transform(range(60), b ->
                         CASE WHEN 2 * list_sum(list_transform(hs, h -> (h >> b) & 1)) >= len(hs)
                              THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT)
                  END AS sig
           FROM msh)"""

  val specs: Seq[QuerySpec] = Seq(
    // LLM-pipeline: multimodal. (The normalized-float mm_features row
    // was retired in round 16: its integer twin mm_features_fix carries
    // the oracle, and the float presentation lives on as a spec
    // assertion — see Round16OpsSpec — instead of a pinned no_oracle
    // registry exception.)
    QuerySpec("mm_binary_meta", Multimodal.binaryMeta _,
      Sql("SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes, substr(text, 1, 16) AS head16 FROM documents ORDER BY doc_id")),
    QuerySpec("mm_frames", Multimodal.frameQuery _,
      Sql("""WITH d AS (
           SELECT doc_id AS media_id,
                  CASE WHEN doc_id % 3 = 0 THEN 'image'
                       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
                  octet_length(CAST(text AS BLOB)) AS nb
           FROM documents),
         f AS (SELECT media_id, kind, nb, unnest([0, 1, 2, 3]) AS frame_idx FROM d)
         SELECT media_id, kind, CAST(frame_idx AS INT) AS frame_idx,
                CAST(GREATEST(LEAST(GREATEST(nb // 4, 1), nb - frame_idx * (nb // 4)), 0) AS BIGINT) AS frame_len
         FROM f ORDER BY media_id, frame_idx"""), Timed),
    QuerySpec("mm_dims", Multimodal.dimsQuery _,
      // the Spark side round-trips through REAL PNG/JPEG/WAV bytes
      // (encode → magic-byte detect → header walk); the oracle computes
      // the expected parse output analytically from the same
      // (doc_id, n_chars) the encoder derived dims from — a hash match
      // certifies the byte-level parser end to end
      Sql("""SELECT doc_id AS media_id,
                CASE WHEN doc_id % 3 = 0 THEN 'png' WHEN doc_id % 3 = 1 THEN 'jpeg'
                     WHEN doc_id % 6 = 2 THEN 'wav' ELSE 'mp4' END AS fmt,
                CAST(CASE WHEN doc_id % 3 IN (0, 1) OR doc_id % 6 = 5 THEN n_chars % 640 + 1 END AS INTEGER) AS width,
                CAST(CASE WHEN doc_id % 3 IN (0, 1) OR doc_id % 6 = 5 THEN n_chars % 480 + 1 END AS INTEGER) AS height,
                CAST(CASE WHEN doc_id % 6 = 2 THEN CASE WHEN doc_id % 12 = 8 THEN GREATEST(n_chars // 4, 1)
                             ELSE 8000 + (n_chars % 8) * 1000 END END AS INTEGER) AS sample_rate,
                CAST(CASE WHEN doc_id % 6 = 2 THEN CASE WHEN doc_id % 12 = 8 THEN 1 ELSE (doc_id // 6) % 2 + 1 END END AS INTEGER) AS channels
         FROM documents ORDER BY doc_id"""), Timed),
    // content volume off the real container bytes: pixels for images,
    // sample frames + duration for audio (two-chunk RIFF walk: fmt's
    // byte_rate/block_align AND the data chunk's size)
    QuerySpec("mm_extent", Multimodal.extentQuery _,
      // analytic twin of the container walks: the WAV data chunk
      // carries exactly the UTF-8 text bytes, fmt's byte_rate =
      // rate*channels*2 (16-bit samples) and block_align = channels*2;
      // image/video extent is the IHDR/SOF/tkhd pixel product; MP4
      // duration is mvhd units on the 600-tick movie clock. Integer
      // division on both sides.
      Sql("""SELECT doc_id AS media_id,
                CASE WHEN doc_id % 3 = 0 THEN 'png' WHEN doc_id % 3 = 1 THEN 'jpeg'
                     WHEN doc_id % 6 = 2 THEN 'wav' ELSE 'mp4' END AS fmt,
                CAST(CASE WHEN doc_id % 3 IN (0, 1) OR doc_id % 6 = 5
                     THEN (n_chars % 640 + 1) * (n_chars % 480 + 1)
                     ELSE octet_length(encode(text)) // ((CASE WHEN doc_id % 12 = 8 THEN 1 ELSE (doc_id // 6) % 2 + 1 END) * 2)
                END AS BIGINT) AS extent,
                CAST(CASE WHEN doc_id % 6 = 2
                     THEN octet_length(encode(text)) * 1000
                          // ((CASE WHEN doc_id % 12 = 8 THEN GREATEST(n_chars // 4, 1)
                             ELSE 8000 + (n_chars % 8) * 1000 END)
                              * (CASE WHEN doc_id % 12 = 8 THEN 1 ELSE (doc_id // 6) % 2 + 1 END) * 2)
                     WHEN doc_id % 6 = 5
                     THEN (CASE WHEN doc_id % 12 = 11 THEN n_chars % 50 + 10
                                ELSE n_chars % 2400 + 600 END) * 1000 // 600
                END AS BIGINT) AS duration_ms
         FROM documents ORDER BY doc_id"""), Timed),
    // cross-format content dedup: extract the data section from the
    // real container bytes, md5-fingerprint, group across fmts
    QuerySpec("mm_content_dedup", Multimodal.contentDedup _,
      // the extracted data section is exactly the UTF-8 text bytes on
      // every container path, so md5(text) (DuckDB hashes the VARCHAR's
      // UTF-8 bytes — the repo's standing md5-twin convention) is the
      // analytic twin of the extraction walk; groups span formats by
      // construction
      Sql("""WITH g AS (
           SELECT doc_id AS media_id,
                  CASE WHEN doc_id % 3 = 0 THEN 'png' WHEN doc_id % 3 = 1 THEN 'jpeg'
                       WHEN doc_id % 6 = 2 THEN 'wav' ELSE 'mp4' END AS fmt,
                  md5(text) AS content_md5
           FROM documents)
         SELECT media_id, fmt, content_md5,
                MIN(media_id) OVER (PARTITION BY content_md5) AS group_id,
                COUNT(*) OVER (PARTITION BY content_md5) AS group_size,
                media_id = MIN(media_id) OVER (PARTITION BY content_md5) AS is_canonical
         FROM g ORDER BY media_id"""), Timed),
    QuerySpec("mm_features_hist", Multimodal.featureHistQuery _,
      // walk the UTF-8 payload bytes by slicing hex() pairs of the BLOB —
      // byte i is ('0x' || substr(hex, 2i+1, 2))::INT; bin = byte >> 5
      Sql("""WITH b AS (
           SELECT doc_id AS media_id,
                  CASE WHEN doc_id % 3 = 0 THEN 'image'
                       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
                  hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n
           FROM documents),
         by AS (
           SELECT media_id, kind, n,
                  ('0x' || substr(hx, CAST(2 * i.i + 1 AS INT), 2))::INT // 32 AS bin
           FROM b, unnest(range(n)) AS i(i))
         SELECT media_id, kind, CAST(bin AS INT) AS bin,
                COUNT(*) AS cnt, CAST(n AS BIGINT) AS n_bytes
         FROM by GROUP BY media_id, kind, bin, n
         ORDER BY media_id, bin""")),
    // the segmented fixed-point face the near-dup family joins on:
    // per-segment mean byte value, pure-integer fix — hash-pinned
    // end-to-end against the DuckDB hex byte walk
    QuerySpec("mm_face_segments", Multimodal.faceSegmentsQuery _,
      // the segment-mean face: byte i belongs to segment i*8 div n,
      // ffix = sum(byte)*1e6 div count — PURE INTEGER, so DuckDB's //
      // matches the JVM's floor division exactly with no IEEE contract
      Sql("""WITH b AS (
           SELECT doc_id AS media_id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n
           FROM documents),
         by AS (
           SELECT media_id, n,
                  CAST((i.i * 8) // n AS INT) AS seg,
                  ('0x' || substr(hx, CAST(2 * i.i + 1 AS INT), 2))::INT AS bv
           FROM b, unnest(range(n)) AS i(i)),
         hf AS (
           SELECT media_id, seg,
                  CAST((SUM(bv) * 1000000) // COUNT(*) AS BIGINT) AS ffix
           FROM by GROUP BY media_id, seg),
         ids AS (SELECT doc_id AS media_id,
                        CASE WHEN doc_id % 3 = 0 THEN 'image'
                             WHEN doc_id % 3 = 1 THEN 'audio'
                             ELSE 'video' END AS kind,
                        octet_length(encode(text)) AS n
                 FROM documents)
         SELECT i.media_id, i.kind, CAST(i.n AS BIGINT) AS n_bytes,
                CAST(bins.seg AS INT) AS seg, COALESCE(hf.ffix, 0) AS ffix
         FROM ids i CROSS JOIN (SELECT unnest(range(8)) AS seg) bins
         LEFT JOIN hf ON hf.media_id = i.media_id AND hf.seg = bins.seg
         ORDER BY i.media_id, bins.seg"""), Timed),
    // the 60-bit shingle-simhash media fingerprint itself, hash-pinned
    // against the DuckDB hex/md5/majority replay
    QuerySpec("mm_fingerprint", (s, d) => Multimodal.fingerprintQuery(s, d, HashFamily.Md5),
      // the 60-bit shingle simhash replayed byte-for-byte: hex-pair
      // windows, md5 60-bit prefixes, per-bit majority — a hash match
      // certifies the JVM signature loop against an independent engine
      Sql(s"""WITH $mediaSigCtes
         SELECT mb.media_id,
                CASE WHEN mb.media_id % 3 = 0 THEN 'image'
                     WHEN mb.media_id % 3 = 1 THEN 'audio'
                     ELSE 'video' END AS kind,
                CAST(mb.n AS BIGINT) AS n_bytes, msig.sig
         FROM mb JOIN msig USING (media_id)
         ORDER BY media_id"""), Headline),
    // the xxhash64 production fast path of the fingerprint (rows-only:
    // DuckDB cannot replay xxhash64; Round17OpsSpec pins its near-dup
    // pair set EXACTLY equal to the oracled md5 face's on the spec
    // corpus, and the xN probe bounds the corpus-scale divergence to
    // Hamming-boundary pairs — the dedup_minhash_pairs twin convention)
    QuerySpec("mm_fingerprint_fast", (s, d) => Multimodal.fingerprintQuery(s, d, HashFamily.Xx),
      NoOracle(
        "DuckDB cannot replay xxhash64; Round17OpsSpec pins its near-dup pair set to the " +
          "oracled md5 face mm_fingerprint"), Timed),
    // near-dup over the media fingerprint: same byte size up to a small
    // window, Hamming ≤ 7 on the 60-bit simhash, segment-face L1 as the
    // retained secondary check; candidates from the lossless 4×15-bit
    // band-plus-flip blocking; the oracle is the NAIVE all-pairs
    // definition, so the hash match re-proves the blocking lossless
    // every round
    QuerySpec("mm_neardup_pairs", (s, d) => Multimodal.nearDupPairs(s, d, HashFamily.Md5),
      // the NAIVE definition — every ordered same-kind pair, the length
      // window, the exact fingerprint Hamming, and the L1 secondary
      // applied directly (no banding), so a hash match proves the Spark
      // side's band-plus-flip blocking lossless; msig replays the
      // mm_fingerprint chain, hf the mm_face_segments chain
      Sql(s"""WITH $mediaSigCtes,
         by AS (
           SELECT media_id, n,
                  CAST((i.i * 8) // n AS INT) AS seg,
                  ('0x' || substr(hx, CAST(2 * i.i + 1 AS INT), 2))::INT AS bv
           FROM mb, unnest(range(n)) AS i(i)),
         hf AS MATERIALIZED (
           SELECT media_id, seg,
                  CAST((SUM(bv) * 1000000) // COUNT(*) AS BIGINT) AS ffix
           FROM by GROUP BY media_id, seg),
         ids AS (SELECT doc_id AS media_id,
                        CASE WHEN doc_id % 3 = 0 THEN 'image'
                             WHEN doc_id % 3 = 1 THEN 'audio'
                             ELSE 'video' END AS kind,
                        octet_length(encode(text)) AS n
                 FROM documents),
         cand AS (
           SELECT x.media_id AS a, x.n AS la, y.media_id AS b, y.n AS lb,
                  x.kind,
                  CAST(bit_count(xor(sa.sig, sb.sig)) AS INT) AS ham
           FROM ids x JOIN ids y
             ON x.kind = y.kind AND x.media_id < y.media_id
           JOIN msig sa ON sa.media_id = x.media_id
           JOIN msig sb ON sb.media_id = y.media_id
           WHERE abs(x.n - y.n) <= ${Multimodal.NearDupLenWindow}
             AND bit_count(xor(sa.sig, sb.sig)) <= ${Multimodal.MediaFpMaxHamming}),
         pb AS (
           SELECT c.a, c.b, c.la, c.lb, c.kind, c.ham, bins.seg,
                  COALESCE(ha.ffix, 0) AS fa, COALESCE(hb.ffix, 0) AS fb
           FROM cand c CROSS JOIN (SELECT unnest(range(8)) AS seg) bins
           LEFT JOIN hf ha ON ha.media_id = c.a AND ha.seg = bins.seg
           LEFT JOIN hf hb ON hb.media_id = c.b AND hb.seg = bins.seg)
         SELECT a AS media_a, b AS media_b, kind,
                CAST(abs(la - lb) AS BIGINT) AS len_delta,
                ham AS hamming,
                CAST(SUM(ABS(fa - fb)) AS BIGINT) AS l1_fix
         FROM pb GROUP BY a, b, la, lb, kind, ham
         HAVING SUM(ABS(fa - fb)) <= ${Multimodal.MediaFpL1Window}
         ORDER BY media_a, media_b"""), Timed),
    // the fast family's SERVE surface (r18): pairs and the full
    // dedup decision over the xxhash64 face — rows-only under the
    // mm_fingerprint_fast justification (DuckDB cannot replay
    // xxhash64); Round18OpsSpec pins both frames IDENTICAL to their
    // Md5-family rows on the spec corpus; at xN the divergence is the
    // characterized margin band (SCALING.md)
    QuerySpec("mm_neardup_pairs_fast", (s, d) => Multimodal.nearDupPairs(s, d, HashFamily.Xx),
      NoOracle(
        "DuckDB cannot replay xxhash64; Round18OpsSpec pins it identical to its oracled md5 " +
          "twin mm_neardup_pairs"), Timed),
    QuerySpec("mm_dedup_decision_fast", (s, d) => Multimodal.nearDupDecision(s, d, HashFamily.Xx),
      NoOracle(
        "DuckDB cannot replay xxhash64; Round18OpsSpec pins it identical to its oracled md5 " +
          "twin mm_dedup_decision"), Timed),
    // components over the media pair graph + the media-specific keep
    // rule (highest fidelity read off the REAL parsed headers —
    // width×height / sample_rate×channels — ties to lowest id);
    // oracle = naive pairs into a recursive-CTE closure with the
    // analytic fidelity
    QuerySpec("mm_dedup_decision", (s, d) => Multimodal.nearDupDecision(s, d, HashFamily.Md5),
      // the same naive pair definition feeding a recursive-CTE
      // transitive closure (the dedup_cluster oracle convention),
      // singletons self-rooted; keep = highest fidelity then lowest
      // id, where the oracle computes fidelity ANALYTICALLY from the
      // same (doc_id, n_chars) the container encoder derived its
      // header fields from — the Spark side reads it off the REAL
      // parsed PNG/JPEG/WAV headers, so a parser regression (fallback
      // to payload bytes) breaks the hash
      Sql(s"""WITH RECURSIVE $mediaSigCtes,
         by AS (
           SELECT media_id, n,
                  CAST((i.i * 8) // n AS INT) AS seg,
                  ('0x' || substr(hx, CAST(2 * i.i + 1 AS INT), 2))::INT AS bv
           FROM mb, unnest(range(n)) AS i(i)),
         hf AS MATERIALIZED (
           SELECT media_id, seg,
                  CAST((SUM(bv) * 1000000) // COUNT(*) AS BIGINT) AS ffix
           FROM by GROUP BY media_id, seg),
         ids AS (SELECT doc_id AS media_id,
                        CASE WHEN doc_id % 3 = 0 THEN 'image'
                             WHEN doc_id % 3 = 1 THEN 'audio'
                             ELSE 'video' END AS kind,
                        octet_length(encode(text)) AS n,
                        CASE WHEN doc_id % 3 IN (0, 1) OR doc_id % 6 = 5
                             THEN (n_chars % 640 + 1) * (n_chars % 480 + 1)
                             ELSE (CASE WHEN doc_id % 12 = 8 THEN GREATEST(n_chars // 4, 1)
                             ELSE 8000 + (n_chars % 8) * 1000 END)
                                  * (CASE WHEN doc_id % 12 = 8 THEN 1 ELSE (doc_id // 6) % 2 + 1 END)
                        END AS fid
                 FROM documents),
         cand AS (
           SELECT x.media_id AS a, y.media_id AS bb
           FROM ids x JOIN ids y
             ON x.kind = y.kind AND x.media_id < y.media_id
           JOIN msig sa ON sa.media_id = x.media_id
           JOIN msig sb ON sb.media_id = y.media_id
           WHERE abs(x.n - y.n) <= ${Multimodal.NearDupLenWindow}
             AND bit_count(xor(sa.sig, sb.sig)) <= ${Multimodal.MediaFpMaxHamming}),
         prs AS (
           SELECT a, bb FROM (
             SELECT c.a, c.bb, bins.seg,
                    COALESCE(ha.ffix, 0) AS fa, COALESCE(hb.ffix, 0) AS fb
             FROM cand c CROSS JOIN (SELECT unnest(range(8)) AS seg) bins
             LEFT JOIN hf ha ON ha.media_id = c.a AND ha.seg = bins.seg
             LEFT JOIN hf hb ON hb.media_id = c.bb AND hb.seg = bins.seg)
           GROUP BY a, bb
           HAVING SUM(ABS(fa - fb)) <= ${Multimodal.MediaFpL1Window}),
         edges AS (
           SELECT a AS u, bb AS v FROM prs
           UNION ALL SELECT bb AS u, a AS v FROM prs),
         walk(node, reach) AS (
           SELECT u, u FROM edges
           UNION
           SELECT w.node, e.v FROM walk w JOIN edges e ON w.reach = e.u),
         comp AS (SELECT node, MIN(reach) AS root FROM walk GROUP BY node),
         base AS (
           SELECT d.media_id, d.n, d.fid,
                  COALESCE(c.root, d.media_id) AS component_id
           FROM ids d LEFT JOIN comp c ON d.media_id = c.node)
         SELECT media_id, component_id,
                COUNT(*) OVER (PARTITION BY component_id) AS cluster_size,
                CAST(n AS BIGINT) AS n_bytes,
                CAST(fid AS BIGINT) AS fidelity,
                (ROW_NUMBER() OVER (PARTITION BY component_id
                   ORDER BY fid DESC, media_id) = 1) AS keep
         FROM base ORDER BY media_id"""), Headline),
    // the %10 batch carve vs the corpus slice: best corpus match within
    // all three windows (smallest Hamming, then L1, then id) or is_new
    // Naive batch × corpus media near-dup under all three windows, best
    // match by (Hamming, L1, corpus id), every batch id emitted (is_new
    // when unmatched).
    QuerySpec("mm_incremental_neardup", (s, d) => Multimodal.incrementalNearDup(s, d),
      Sql(s"""WITH $mediaSigCtes,
         by AS (
           SELECT media_id, n,
                  CAST((i.i * 8) // n AS INT) AS seg,
                  ('0x' || substr(hx, CAST(2 * i.i + 1 AS INT), 2))::INT AS bv
           FROM mb, unnest(range(n)) AS i(i)),
         hf AS MATERIALIZED (
           SELECT media_id, seg,
                  CAST((SUM(bv) * 1000000) // COUNT(*) AS BIGINT) AS ffix
           FROM by GROUP BY media_id, seg),
         ids AS (SELECT doc_id AS media_id,
                        CASE WHEN doc_id % 3 = 0 THEN 'image'
                             WHEN doc_id % 3 = 1 THEN 'audio'
                             ELSE 'video' END AS kind,
                        octet_length(encode(text)) AS n
                 FROM documents),
         cand AS (
           SELECT x.media_id, y.media_id AS corpus_id,
                  CAST(bit_count(xor(sa.sig, sb.sig)) AS INT) AS ham
           FROM ids x JOIN ids y
             ON x.kind = y.kind
            AND x.media_id % 10 = 0 AND y.media_id % 10 <> 0
            AND abs(x.n - y.n) <= ${Multimodal.NearDupLenWindow}
           JOIN msig sa ON sa.media_id = x.media_id
           JOIN msig sb ON sb.media_id = y.media_id
           WHERE bit_count(xor(sa.sig, sb.sig)) <= ${Multimodal.MediaFpMaxHamming}),
         scored AS (
           SELECT media_id, corpus_id, ham,
                  CAST(SUM(ABS(fa - fb)) AS BIGINT) AS l1_fix
           FROM (
             SELECT c.media_id, c.corpus_id, c.ham, bins.seg,
                    COALESCE(ha.ffix, 0) AS fa, COALESCE(hb.ffix, 0) AS fb
             FROM cand c CROSS JOIN (SELECT unnest(range(8)) AS seg) bins
             LEFT JOIN hf ha ON ha.media_id = c.media_id AND ha.seg = bins.seg
             LEFT JOIN hf hb ON hb.media_id = c.corpus_id AND hb.seg = bins.seg)
           GROUP BY media_id, corpus_id, ham
           HAVING SUM(ABS(fa - fb)) <= ${Multimodal.MediaFpL1Window}),
         best AS (
           SELECT media_id, corpus_id, ham, l1_fix FROM (
             SELECT *, row_number() OVER (PARTITION BY media_id
                         ORDER BY ham, l1_fix, corpus_id) AS rn
             FROM scored) WHERE rn = 1)
         SELECT i.media_id, p.corpus_id IS NULL AS is_new,
                p.corpus_id AS dup_of, p.ham AS hamming, p.l1_fix
         FROM (SELECT media_id FROM ids WHERE media_id % 10 = 0) i
           LEFT JOIN best p USING (media_id)
         ORDER BY media_id"""), Timed),
    // the same verdicts served from the PERSISTED corpus fingerprint
    // face (self-priming): repeat batches decode only themselves — the
    // production serve shape at 100 TB
    // row-identical to mm_incremental_neardup by construction (the
    // artifact IS the corpus fingerprint face)
    QuerySpec("mm_incremental_stored", (s, d) => Multimodal.incrementalNearDupStored(s, d),
      SameAs("mm_incremental_neardup"), Primed),
    // media decontamination: eval media (the %10==7 carve) fingerprint-
    // banded + broadcast, corpus map-only; flagged corpus media with
    // their best eval match — anti-join = the decontaminated corpus
    // Naive eval × corpus media decontam under all three windows, best
    // eval match per flagged corpus media by (Hamming, L1, eval id);
    // flagged rows only — the report shape.
    QuerySpec("mm_decontam", (s, d) => Multimodal.decontamReport(s, d),
      Sql(s"""WITH $mediaSigCtes,
         by AS (
           SELECT media_id, n,
                  CAST((i.i * 8) // n AS INT) AS seg,
                  ('0x' || substr(hx, CAST(2 * i.i + 1 AS INT), 2))::INT AS bv
           FROM mb, unnest(range(n)) AS i(i)),
         hf AS MATERIALIZED (
           SELECT media_id, seg,
                  CAST((SUM(bv) * 1000000) // COUNT(*) AS BIGINT) AS ffix
           FROM by GROUP BY media_id, seg),
         ids AS (SELECT doc_id AS media_id,
                        CASE WHEN doc_id % 3 = 0 THEN 'image'
                             WHEN doc_id % 3 = 1 THEN 'audio'
                             ELSE 'video' END AS kind,
                        octet_length(encode(text)) AS n
                 FROM documents),
         cand AS (
           SELECT y.media_id, x.media_id AS eval_id,
                  CAST(bit_count(xor(sa.sig, sb.sig)) AS INT) AS ham
           FROM ids x JOIN ids y
             ON x.kind = y.kind
            AND x.media_id % 10 = 7 AND y.media_id % 10 <> 7
            AND abs(x.n - y.n) <= ${Multimodal.NearDupLenWindow}
           JOIN msig sa ON sa.media_id = x.media_id
           JOIN msig sb ON sb.media_id = y.media_id
           WHERE bit_count(xor(sa.sig, sb.sig)) <= ${Multimodal.MediaFpMaxHamming}),
         scored AS (
           SELECT media_id, eval_id, ham,
                  CAST(SUM(ABS(fa - fb)) AS BIGINT) AS l1_fix
           FROM (
             SELECT c.media_id, c.eval_id, c.ham, bins.seg,
                    COALESCE(ha.ffix, 0) AS fa, COALESCE(hb.ffix, 0) AS fb
             FROM cand c CROSS JOIN (SELECT unnest(range(8)) AS seg) bins
             LEFT JOIN hf ha ON ha.media_id = c.media_id AND ha.seg = bins.seg
             LEFT JOIN hf hb ON hb.media_id = c.eval_id AND hb.seg = bins.seg)
           GROUP BY media_id, eval_id, ham
           HAVING SUM(ABS(fa - fb)) <= ${Multimodal.MediaFpL1Window})
         SELECT media_id, eval_id, ham AS hamming, l1_fix FROM (
           SELECT *, row_number() OVER (PARTITION BY media_id
                       ORDER BY ham, l1_fix, eval_id) AS rn
           FROM scored) WHERE rn = 1
         ORDER BY media_id"""), Timed),
    // the same decontam report served from the PERSISTED fingerprint
    // face (self-priming): repeat sweeps read one thin row per media —
    // no payload ever decodes or fingerprints on the serve path
    // row-identical to mm_decontam by construction (the artifact IS the
    // fingerprint face the live row checkpoints)
    QuerySpec("mm_decontam_stored", (s, d) => Multimodal.decontamReportStored(s, d),
      SameAs("mm_decontam"), Primed),
    // the media Gopher battery: parse validity, resolution/aspect
    // bounds, rate floor, duration flag, content byte-dominance — all
    // map-side off the real container walks
    QuerySpec("mm_quality_rules", Multimodal.qualityRules _,
      // analytic rule replay: dims/rate/duration from (doc_id, n_chars)
      // as the encoders derived them, dominance from a hex-pair GROUP BY
      // over the text bytes the extraction recovers — a parser or
      // extraction regression flips r_parse/r_dominant and the hash
      Sql(s"""WITH b AS (
           SELECT doc_id AS media_id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n
           FROM documents),
         by AS (
           SELECT media_id, n, substr(hx, CAST(2 * i.i + 1 AS INT), 2) AS bv
           FROM b, unnest(range(n)) AS i(i)),
         dom AS (
           SELECT media_id, MAX(cnt) AS maxc, ANY_VALUE(n) AS n FROM (
             SELECT media_id, n, bv, COUNT(*) AS cnt
             FROM by GROUP BY media_id, n, bv)
           GROUP BY media_id),
         ids AS (SELECT doc_id AS media_id,
                        CASE WHEN doc_id % 3 = 0 THEN 'png'
                             WHEN doc_id % 3 = 1 THEN 'jpeg'
                             WHEN doc_id % 6 = 2 THEN 'wav'
                             ELSE 'mp4' END AS fmt,
                        n_chars % 640 + 1 AS w, n_chars % 480 + 1 AS h,
                        CASE WHEN doc_id % 12 = 8 THEN GREATEST(n_chars // 4, 1)
                             ELSE 8000 + (n_chars % 8) * 1000 END AS rate,
                        CASE WHEN doc_id % 12 = 8 THEN 1 ELSE (doc_id // 6) % 2 + 1 END AS ch,
                        octet_length(encode(text)) AS n, n_chars
                 FROM documents)
         SELECT i.media_id, i.fmt, true AS r_parse,
                CASE WHEN i.fmt IN ('png', 'jpeg', 'mp4')
                     THEN i.w * i.h >= ${Multimodal.MediaMinPixels} END AS r_min_pixels,
                CASE WHEN i.fmt IN ('png', 'jpeg', 'mp4')
                     THEN GREATEST(i.w, i.h) <= ${Multimodal.MediaAspectMax} * LEAST(i.w, i.h) END AS r_aspect,
                CASE WHEN i.fmt = 'wav'
                     THEN i.rate >= ${Multimodal.MediaMinRate} END AS r_rate,
                CASE WHEN i.fmt = 'wav'
                     THEN i.n * 1000 // (i.rate * i.ch * 2) >= ${Multimodal.MediaMinDurationMs}
                     WHEN i.fmt = 'mp4'
                     THEN (CASE WHEN i.media_id % 12 = 11 THEN i.n_chars % 50 + 10
                                ELSE i.n_chars % 2400 + 600 END) * 1000 // 600
                          >= ${Multimodal.MediaMinDurationMs}
                END AS r_short,
                -- LEFT JOIN + COALESCE(false): a zero-length payload has
                -- no dominance row (unnest(range(0)) is empty) but the
                -- Spark side still emits it with dominantByteOk(empty) =
                -- false — the media must not vanish from the oracle
                COALESCE(2 * d.maxc <= d.n, false) AS r_dominant,
                (COALESCE(CASE WHEN i.fmt IN ('png', 'jpeg', 'mp4')
                     THEN i.w * i.h >= ${Multimodal.MediaMinPixels} END, true)
                 AND COALESCE(CASE WHEN i.fmt IN ('png', 'jpeg', 'mp4')
                     THEN GREATEST(i.w, i.h) <= ${Multimodal.MediaAspectMax} * LEAST(i.w, i.h) END, true)
                 AND COALESCE(CASE WHEN i.fmt = 'wav'
                     THEN i.rate >= ${Multimodal.MediaMinRate} END, true)
                 AND COALESCE(CASE WHEN i.fmt = 'wav'
                     THEN i.n * 1000 // (i.rate * i.ch * 2) >= ${Multimodal.MediaMinDurationMs}
                     WHEN i.fmt = 'mp4'
                     THEN (CASE WHEN i.media_id % 12 = 11 THEN i.n_chars % 50 + 10
                                ELSE i.n_chars % 2400 + 600 END) * 1000 // 600
                          >= ${Multimodal.MediaMinDurationMs}
                 END, true)
                 AND COALESCE(2 * d.maxc <= d.n, false)) AS keep
         FROM ids i LEFT JOIN dom d ON d.media_id = i.media_id
         ORDER BY i.media_id"""), Timed),
    // the capstone curation trail: eval_holdout > contaminated >
    // quality_fail > near_dup > kept, every drop auditable
    // The three gate chains composed under one WITH RECURSIVE: the
    // quality conjunction (analytic dims/rate/duration + byte
    // dominance), the near-dup closure, the decontam flagged set, and
    // the SURVIVOR keeper election — decision by the documented
    // precedence.
    QuerySpec("mm_curation_decisions", (s, d) => Multimodal.curationDecisions(s, d),
      Sql(s"""WITH RECURSIVE $mediaSigCtes,
         by AS (
           SELECT media_id, n,
                  CAST((i.i * 8) // n AS INT) AS seg,
                  ('0x' || substr(hx, CAST(2 * i.i + 1 AS INT), 2))::INT AS bv
           FROM mb, unnest(range(n)) AS i(i)),
         hf AS MATERIALIZED (
           SELECT media_id, seg,
                  CAST((SUM(bv) * 1000000) // COUNT(*) AS BIGINT) AS ffix
           FROM by GROUP BY media_id, seg),
         dmq AS (
           SELECT media_id, MAX(cnt) AS maxc, ANY_VALUE(n) AS n FROM (
             SELECT media_id, n, bv, COUNT(*) AS cnt
             FROM by GROUP BY media_id, n, bv)
           GROUP BY media_id),
         ids AS (SELECT doc_id AS media_id,
                        CASE WHEN doc_id % 3 = 0 THEN 'image'
                             WHEN doc_id % 3 = 1 THEN 'audio'
                             ELSE 'video' END AS kind,
                        CASE WHEN doc_id % 3 = 0 THEN 'png'
                             WHEN doc_id % 3 = 1 THEN 'jpeg'
                             WHEN doc_id % 6 = 2 THEN 'wav'
                             ELSE 'mp4' END AS fmt,
                        n_chars % 640 + 1 AS w, n_chars % 480 + 1 AS h,
                        CASE WHEN doc_id % 12 = 8 THEN GREATEST(n_chars // 4, 1)
                             ELSE 8000 + (n_chars % 8) * 1000 END AS rate,
                        CASE WHEN doc_id % 12 = 8 THEN 1 ELSE (doc_id // 6) % 2 + 1 END AS ch, n_chars,
                        octet_length(encode(text)) AS n,
                        CASE WHEN doc_id % 3 IN (0, 1) OR doc_id % 6 = 5
                             THEN (n_chars % 640 + 1) * (n_chars % 480 + 1)
                             ELSE (CASE WHEN doc_id % 12 = 8 THEN GREATEST(n_chars // 4, 1)
                             ELSE 8000 + (n_chars % 8) * 1000 END)
                                  * (CASE WHEN doc_id % 12 = 8 THEN 1 ELSE (doc_id // 6) % 2 + 1 END)
                        END AS fid
                 FROM documents),
         quality AS (
           SELECT i.media_id,
                  (COALESCE(CASE WHEN i.fmt IN ('png', 'jpeg', 'mp4')
                       THEN i.w * i.h >= ${Multimodal.MediaMinPixels} END, true)
                   AND COALESCE(CASE WHEN i.fmt IN ('png', 'jpeg', 'mp4')
                       THEN GREATEST(i.w, i.h) <= ${Multimodal.MediaAspectMax} * LEAST(i.w, i.h) END, true)
                   AND COALESCE(CASE WHEN i.fmt = 'wav'
                       THEN i.rate >= ${Multimodal.MediaMinRate} END, true)
                   AND COALESCE(CASE WHEN i.fmt = 'wav'
                       THEN i.n * 1000 // (i.rate * i.ch * 2) >= ${Multimodal.MediaMinDurationMs}
                       WHEN i.fmt = 'mp4'
                       THEN (CASE WHEN i.media_id % 12 = 11 THEN i.n_chars % 50 + 10
                                  ELSE i.n_chars % 2400 + 600 END) * 1000 // 600
                            >= ${Multimodal.MediaMinDurationMs}
                   END, true)
                   AND COALESCE(2 * d.maxc <= d.n, false)) AS quality_ok
           FROM ids i LEFT JOIN dmq d USING (media_id)),
         cand AS (
           SELECT x.media_id AS a, y.media_id AS bb
           FROM ids x JOIN ids y
             ON x.kind = y.kind AND x.media_id < y.media_id
           JOIN msig sa ON sa.media_id = x.media_id
           JOIN msig sb ON sb.media_id = y.media_id
           WHERE abs(x.n - y.n) <= ${Multimodal.NearDupLenWindow}
             AND bit_count(xor(sa.sig, sb.sig)) <= ${Multimodal.MediaFpMaxHamming}),
         prs AS (
           SELECT a, bb FROM (
             SELECT c.a, c.bb, bins.seg,
                    COALESCE(ha.ffix, 0) AS fa, COALESCE(hb.ffix, 0) AS fb
             FROM cand c CROSS JOIN (SELECT unnest(range(8)) AS seg) bins
             LEFT JOIN hf ha ON ha.media_id = c.a AND ha.seg = bins.seg
             LEFT JOIN hf hb ON hb.media_id = c.bb AND hb.seg = bins.seg)
           GROUP BY a, bb
           HAVING SUM(ABS(fa - fb)) <= ${Multimodal.MediaFpL1Window}),
         edges AS (
           SELECT a AS u, bb AS v FROM prs
           UNION ALL SELECT bb AS u, a AS v FROM prs),
         walk(node, reach) AS (
           SELECT u, u FROM edges
           UNION
           SELECT w.node, e.v FROM walk w JOIN edges e ON w.reach = e.u),
         comp AS (SELECT node, MIN(reach) AS root FROM walk GROUP BY node),
         flagged AS (
           SELECT DISTINCT media_id FROM (
             SELECT c.media_id, c.eval_id, bins.seg,
                    COALESCE(ha.ffix, 0) AS fa, COALESCE(hb.ffix, 0) AS fb
             FROM (
               SELECT y.media_id, x.media_id AS eval_id
               FROM ids x JOIN ids y
                 ON x.kind = y.kind
                AND x.media_id % 10 = 7 AND y.media_id % 10 <> 7
                AND abs(x.n - y.n) <= ${Multimodal.NearDupLenWindow}
               JOIN msig sa ON sa.media_id = x.media_id
               JOIN msig sb ON sb.media_id = y.media_id
               WHERE bit_count(xor(sa.sig, sb.sig)) <= ${Multimodal.MediaFpMaxHamming}) c
             CROSS JOIN (SELECT unnest(range(8)) AS seg) bins
             LEFT JOIN hf ha ON ha.media_id = c.media_id AND ha.seg = bins.seg
             LEFT JOIN hf hb ON hb.media_id = c.eval_id AND hb.seg = bins.seg)
           GROUP BY media_id, eval_id
           HAVING SUM(ABS(fa - fb)) <= ${Multimodal.MediaFpL1Window}),
         -- keeper election over gate SURVIVORS: components keep their
         -- full-graph identity, but the keeper is the highest-fidelity
         -- member that is neither eval, contaminated, nor quality-failed
         -- (ties to lowest id) — non-survivors are never keepers
         dedup AS (
           SELECT media_id, component_id, survivor,
                  (survivor AND ROW_NUMBER() OVER (PARTITION BY component_id
                     ORDER BY survivor DESC, fid DESC, media_id) = 1) AS dedup_keep
           FROM (SELECT d.media_id, d.fid,
                        COALESCE(c.root, d.media_id) AS component_id,
                        (q.quality_ok AND f.media_id IS NULL
                         AND d.media_id % 10 <> 7) AS survivor
                 FROM ids d
                   JOIN quality q ON q.media_id = d.media_id
                   LEFT JOIN comp c ON d.media_id = c.node
                   LEFT JOIN flagged f ON f.media_id = d.media_id))
         SELECT q.media_id, i.fmt, dd.component_id,
                q.quality_ok, dd.dedup_keep,
                (f.media_id IS NOT NULL) AS contaminated,
                CASE WHEN q.media_id % 10 = 7 THEN 'eval_holdout'
                     WHEN f.media_id IS NOT NULL THEN 'contaminated'
                     WHEN NOT q.quality_ok THEN 'quality_fail'
                     WHEN NOT dd.dedup_keep THEN 'near_dup'
                     ELSE 'kept' END AS decision
         FROM quality q
           JOIN dedup dd USING (media_id)
           JOIN ids i USING (media_id)
           LEFT JOIN flagged f USING (media_id)
         ORDER BY q.media_id"""), Headline),
    // the capstone served from BOTH persisted faces (fingerprint +
    // container audit): a re-curation sweep decodes zero payloads
    // row-identical to mm_curation_decisions by construction (both
    // artifacts ARE the faces the live row checkpoints)
    QuerySpec("mm_curation_stored", (s, d) => Multimodal.curationDecisionsStored(s, d),
      SameAs("mm_curation_decisions"), Primed),
    // the per-batch ADMISSION gate: each %10==0 arrival audited against
    // the standing corpus + eval faces (contaminated > quality_fail >
    // near_dup > new); batch payloads decode once, indexes never
    // reshuffle on account of the batch
    // Per-batch admission replay: the quality conjunction restricted to
    // the %10==0 carve, the best corpus match (corpus excludes BOTH the
    // batch and the eval carves), and the best eval match — decision by
    // the documented precedence.
    QuerySpec("mm_ingest_decisions", (s, d) => Multimodal.ingestDecisions(s, d),
      Sql(s"""WITH $mediaSigCtes,
         by AS (
           SELECT media_id, n,
                  CAST((i.i * 8) // n AS INT) AS seg,
                  ('0x' || substr(hx, CAST(2 * i.i + 1 AS INT), 2))::INT AS bv
           FROM mb, unnest(range(n)) AS i(i)),
         hf AS MATERIALIZED (
           SELECT media_id, seg,
                  CAST((SUM(bv) * 1000000) // COUNT(*) AS BIGINT) AS ffix
           FROM by GROUP BY media_id, seg),
         dmq AS (
           SELECT media_id, MAX(cnt) AS maxc, ANY_VALUE(n) AS n FROM (
             SELECT media_id, n, bv, COUNT(*) AS cnt
             FROM by WHERE media_id % 10 = 0 GROUP BY media_id, n, bv)
           GROUP BY media_id),
         ids AS (SELECT doc_id AS media_id,
                        CASE WHEN doc_id % 3 = 0 THEN 'image'
                             WHEN doc_id % 3 = 1 THEN 'audio'
                             ELSE 'video' END AS kind,
                        CASE WHEN doc_id % 3 = 0 THEN 'png'
                             WHEN doc_id % 3 = 1 THEN 'jpeg'
                             WHEN doc_id % 6 = 2 THEN 'wav'
                             ELSE 'mp4' END AS fmt,
                        n_chars % 640 + 1 AS w, n_chars % 480 + 1 AS h,
                        CASE WHEN doc_id % 12 = 8 THEN GREATEST(n_chars // 4, 1)
                             ELSE 8000 + (n_chars % 8) * 1000 END AS rate,
                        CASE WHEN doc_id % 12 = 8 THEN 1 ELSE (doc_id // 6) % 2 + 1 END AS ch, n_chars,
                        octet_length(encode(text)) AS n
                 FROM documents),
         quality AS (
           SELECT i.media_id, i.fmt,
                  (COALESCE(CASE WHEN i.fmt IN ('png', 'jpeg', 'mp4')
                       THEN i.w * i.h >= ${Multimodal.MediaMinPixels} END, true)
                   AND COALESCE(CASE WHEN i.fmt IN ('png', 'jpeg', 'mp4')
                       THEN GREATEST(i.w, i.h) <= ${Multimodal.MediaAspectMax} * LEAST(i.w, i.h) END, true)
                   AND COALESCE(CASE WHEN i.fmt = 'wav'
                       THEN i.rate >= ${Multimodal.MediaMinRate} END, true)
                   AND COALESCE(CASE WHEN i.fmt = 'wav'
                       THEN i.n * 1000 // (i.rate * i.ch * 2) >= ${Multimodal.MediaMinDurationMs}
                       WHEN i.fmt = 'mp4'
                       THEN (CASE WHEN i.media_id % 12 = 11 THEN i.n_chars % 50 + 10
                                  ELSE i.n_chars % 2400 + 600 END) * 1000 // 600
                            >= ${Multimodal.MediaMinDurationMs}
                   END, true)
                   AND COALESCE(2 * d.maxc <= d.n, false)) AS quality_ok
           FROM ids i LEFT JOIN dmq d USING (media_id)
           WHERE i.media_id % 10 = 0),
         dscored AS (
           SELECT media_id, corpus_id, ham,
                  CAST(SUM(ABS(fa - fb)) AS BIGINT) AS l1_fix
           FROM (
             SELECT c.media_id, c.corpus_id, c.ham, bins.seg,
                    COALESCE(ha.ffix, 0) AS fa, COALESCE(hb.ffix, 0) AS fb
             FROM (
               SELECT x.media_id, y.media_id AS corpus_id,
                      CAST(bit_count(xor(sa.sig, sb.sig)) AS INT) AS ham
               FROM ids x JOIN ids y
                 ON x.kind = y.kind
                AND x.media_id % 10 = 0 AND y.media_id % 10 NOT IN (0, 7)
                AND abs(x.n - y.n) <= ${Multimodal.NearDupLenWindow}
               JOIN msig sa ON sa.media_id = x.media_id
               JOIN msig sb ON sb.media_id = y.media_id
               WHERE bit_count(xor(sa.sig, sb.sig)) <= ${Multimodal.MediaFpMaxHamming}) c
             CROSS JOIN (SELECT unnest(range(8)) AS seg) bins
             LEFT JOIN hf ha ON ha.media_id = c.media_id AND ha.seg = bins.seg
             LEFT JOIN hf hb ON hb.media_id = c.corpus_id AND hb.seg = bins.seg)
           GROUP BY media_id, corpus_id, ham
           HAVING SUM(ABS(fa - fb)) <= ${Multimodal.MediaFpL1Window}),
         dbest AS (
           SELECT media_id, corpus_id, ham, l1_fix FROM (
             SELECT *, row_number() OVER (PARTITION BY media_id
                         ORDER BY ham, l1_fix, corpus_id) AS rn
             FROM dscored) WHERE rn = 1),
         escored AS (
           SELECT media_id, eval_id, ham,
                  CAST(SUM(ABS(fa - fb)) AS BIGINT) AS l1_fix
           FROM (
             SELECT c.media_id, c.eval_id, c.ham, bins.seg,
                    COALESCE(ha.ffix, 0) AS fa, COALESCE(hb.ffix, 0) AS fb
             FROM (
               SELECT x.media_id, y.media_id AS eval_id,
                      CAST(bit_count(xor(sa.sig, sb.sig)) AS INT) AS ham
               FROM ids x JOIN ids y
                 ON x.kind = y.kind
                AND x.media_id % 10 = 0 AND y.media_id % 10 = 7
                AND abs(x.n - y.n) <= ${Multimodal.NearDupLenWindow}
               JOIN msig sa ON sa.media_id = x.media_id
               JOIN msig sb ON sb.media_id = y.media_id
               WHERE bit_count(xor(sa.sig, sb.sig)) <= ${Multimodal.MediaFpMaxHamming}) c
             CROSS JOIN (SELECT unnest(range(8)) AS seg) bins
             LEFT JOIN hf ha ON ha.media_id = c.media_id AND ha.seg = bins.seg
             LEFT JOIN hf hb ON hb.media_id = c.eval_id AND hb.seg = bins.seg)
           GROUP BY media_id, eval_id, ham
           HAVING SUM(ABS(fa - fb)) <= ${Multimodal.MediaFpL1Window}),
         ebest AS (
           SELECT media_id, eval_id FROM (
             SELECT *, row_number() OVER (PARTITION BY media_id
                         ORDER BY ham, l1_fix, eval_id) AS rn
             FROM escored) WHERE rn = 1)
         SELECT q.media_id, q.fmt, q.quality_ok,
                (e.eval_id IS NOT NULL) AS contaminated, e.eval_id,
                d.corpus_id AS dup_of, d.ham AS hamming, d.l1_fix,
                CASE WHEN e.eval_id IS NOT NULL THEN 'contaminated'
                     WHEN NOT q.quality_ok THEN 'quality_fail'
                     WHEN d.corpus_id IS NOT NULL THEN 'near_dup'
                     ELSE 'new' END AS decision
         FROM quality q
           LEFT JOIN dbest d USING (media_id)
           LEFT JOIN ebest e USING (media_id)
         ORDER BY q.media_id"""), Timed),
    // the admission gate served from the persisted face: the per-batch
    // hot path decodes only the batch — corpus/eval indexes read stored
    // row-identical to mm_ingest_decisions by construction (the corpus
    // and eval carves read the stored face; the batch face is the same
    // per-row pure function)
    QuerySpec("mm_ingest_stored", (s, d) => Multimodal.ingestDecisionsStored(s, d),
      SameAs("mm_ingest_decisions"), Primed),
    // cross-format content NEAR-dup: the fingerprint face over the
    // extracted content bytes with fmt NOT a blocking dimension — a
    // re-containered near-identical media pairs across PNG/JPEG/WAV/MP4
    QuerySpec("mm_content_neardup", (s, d) => Multimodal.contentNearDupPairs(s, d),
      // the content section carries exactly the UTF-8 text bytes on
      // every container path, so the fingerprint/face chains replay
      // over text; fmt is analytic from the doc_id residue; NO fmt
      // equality in the pair join — cross-format rows are the point
      Sql(s"""WITH $mediaSigCtes,
         by AS (
           SELECT media_id, n,
                  CAST((i.i * 8) // n AS INT) AS seg,
                  ('0x' || substr(hx, CAST(2 * i.i + 1 AS INT), 2))::INT AS bv
           FROM mb, unnest(range(n)) AS i(i)),
         hf AS MATERIALIZED (
           SELECT media_id, seg,
                  CAST((SUM(bv) * 1000000) // COUNT(*) AS BIGINT) AS ffix
           FROM by GROUP BY media_id, seg),
         ids AS (SELECT doc_id AS media_id,
                        CASE WHEN doc_id % 3 = 0 THEN 'png'
                             WHEN doc_id % 3 = 1 THEN 'jpeg'
                             WHEN doc_id % 6 = 2 THEN 'wav'
                             ELSE 'mp4' END AS fmt,
                        octet_length(encode(text)) AS n
                 FROM documents),
         cand AS (
           SELECT x.media_id AS a, x.n AS la, x.fmt AS fmt_a,
                  y.media_id AS b, y.n AS lb, y.fmt AS fmt_b,
                  CAST(bit_count(xor(sa.sig, sb.sig)) AS INT) AS ham
           FROM ids x JOIN ids y ON x.media_id < y.media_id
           JOIN msig sa ON sa.media_id = x.media_id
           JOIN msig sb ON sb.media_id = y.media_id
           WHERE abs(x.n - y.n) <= ${Multimodal.NearDupLenWindow}
             AND bit_count(xor(sa.sig, sb.sig)) <= ${Multimodal.MediaFpMaxHamming}),
         pb AS (
           SELECT c.a, c.b, c.la, c.lb, c.fmt_a, c.fmt_b, c.ham, bins.seg,
                  COALESCE(ha.ffix, 0) AS fa, COALESCE(hb.ffix, 0) AS fb
           FROM cand c CROSS JOIN (SELECT unnest(range(8)) AS seg) bins
           LEFT JOIN hf ha ON ha.media_id = c.a AND ha.seg = bins.seg
           LEFT JOIN hf hb ON hb.media_id = c.b AND hb.seg = bins.seg)
         SELECT a AS media_a, b AS media_b, fmt_a, fmt_b,
                CAST(abs(la - lb) AS BIGINT) AS len_delta,
                ham AS hamming,
                CAST(SUM(ABS(fa - fb)) AS BIGINT) AS l1_fix
         FROM pb GROUP BY a, b, la, lb, fmt_a, fmt_b, ham
         HAVING SUM(ABS(fa - fb)) <= ${Multimodal.MediaFpL1Window}
         ORDER BY media_a, media_b"""), Timed),
    // the cross-format dedup DECISION over the content pair graph:
    // components span container formats; keep = highest-fidelity
    // container of the content (pixels / rate×channels off the real
    // header parse), ties to lowest id
    QuerySpec("mm_content_decision", (s, d) => Multimodal.contentNearDupDecision(s, d),
      // cross-format content pairs into the recursive-CTE closure
      // (the mm_dedup_decision convention, minus the kind equality);
      // fidelity analytic from (doc_id, n_chars), keep = highest
      // fidelity then lowest id; content_bytes = the text bytes the
      // extraction recovers on every container path
      Sql(s"""WITH RECURSIVE $mediaSigCtes,
         by AS (
           SELECT media_id, n,
                  CAST((i.i * 8) // n AS INT) AS seg,
                  ('0x' || substr(hx, CAST(2 * i.i + 1 AS INT), 2))::INT AS bv
           FROM mb, unnest(range(n)) AS i(i)),
         hf AS MATERIALIZED (
           SELECT media_id, seg,
                  CAST((SUM(bv) * 1000000) // COUNT(*) AS BIGINT) AS ffix
           FROM by GROUP BY media_id, seg),
         ids AS (SELECT doc_id AS media_id,
                        CASE WHEN doc_id % 3 = 0 THEN 'png'
                             WHEN doc_id % 3 = 1 THEN 'jpeg'
                             WHEN doc_id % 6 = 2 THEN 'wav'
                             ELSE 'mp4' END AS fmt,
                        octet_length(encode(text)) AS n,
                        CASE WHEN doc_id % 3 IN (0, 1) OR doc_id % 6 = 5
                             THEN (n_chars % 640 + 1) * (n_chars % 480 + 1)
                             ELSE (CASE WHEN doc_id % 12 = 8 THEN GREATEST(n_chars // 4, 1)
                             ELSE 8000 + (n_chars % 8) * 1000 END)
                                  * (CASE WHEN doc_id % 12 = 8 THEN 1 ELSE (doc_id // 6) % 2 + 1 END)
                        END AS fid
                 FROM documents),
         cand AS (
           SELECT x.media_id AS a, y.media_id AS bb
           FROM ids x JOIN ids y ON x.media_id < y.media_id
           JOIN msig sa ON sa.media_id = x.media_id
           JOIN msig sb ON sb.media_id = y.media_id
           WHERE abs(x.n - y.n) <= ${Multimodal.NearDupLenWindow}
             AND bit_count(xor(sa.sig, sb.sig)) <= ${Multimodal.MediaFpMaxHamming}),
         prs AS (
           SELECT a, bb FROM (
             SELECT c.a, c.bb, bins.seg,
                    COALESCE(ha.ffix, 0) AS fa, COALESCE(hb.ffix, 0) AS fb
             FROM cand c CROSS JOIN (SELECT unnest(range(8)) AS seg) bins
             LEFT JOIN hf ha ON ha.media_id = c.a AND ha.seg = bins.seg
             LEFT JOIN hf hb ON hb.media_id = c.bb AND hb.seg = bins.seg)
           GROUP BY a, bb
           HAVING SUM(ABS(fa - fb)) <= ${Multimodal.MediaFpL1Window}),
         edges AS (
           SELECT a AS u, bb AS v FROM prs
           UNION ALL SELECT bb AS u, a AS v FROM prs),
         walk(node, reach) AS (
           SELECT u, u FROM edges
           UNION
           SELECT w.node, e.v FROM walk w JOIN edges e ON w.reach = e.u),
         comp AS (SELECT node, MIN(reach) AS root FROM walk GROUP BY node),
         base AS (
           SELECT d.media_id, d.fmt, d.n, d.fid,
                  COALESCE(c.root, d.media_id) AS component_id
           FROM ids d LEFT JOIN comp c ON d.media_id = c.node)
         SELECT media_id, component_id,
                COUNT(*) OVER (PARTITION BY component_id) AS cluster_size,
                fmt, CAST(n AS BIGINT) AS content_bytes,
                CAST(fid AS BIGINT) AS fidelity,
                (ROW_NUMBER() OVER (PARTITION BY component_id
                   ORDER BY fid DESC, media_id) = 1) AS keep
         FROM base ORDER BY media_id"""), Headline),
    // the float feature VECTOR itself, fixed-pointed (ratio is an exact
    // single-precision divide of two small ints on both engines): closes
    // the one no_oracle row whose machinery wasn't hash-pinned end-to-end
    QuerySpec("mm_features_fix", (s, d) =>
      Multimodal.featureQuery(s, d)
        .select(col("media_id"), col("kind"),
          posexplode(col("features")).as(Seq("bin", "ratio")))
        .filter(col("ratio") > 0f)
        .select(col("media_id"), col("kind"), col("bin").cast("int").as("bin"),
          round(col("ratio").cast("double") * lit(1000000.0), 0)
            .cast("long").as("ffix"))
        .orderBy("media_id", "bin"),
      // same hex-sliced byte walk as mm_features_hist; the ratio is the
      // single-precision divide decodeToFeatures performs (exact IEEE on
      // both engines for counts << 2^24), fixed-pointed at 1e6
      Sql("""WITH b AS (
           SELECT doc_id AS media_id,
                  CASE WHEN doc_id % 3 = 0 THEN 'image'
                       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
                  hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n
           FROM documents),
         by AS (
           SELECT media_id, kind, n,
                  ('0x' || substr(hx, CAST(2 * i.i + 1 AS INT), 2))::INT // 32 AS bin
           FROM b, unnest(range(n)) AS i(i)),
         h AS (
           SELECT media_id, kind, bin, COUNT(*) AS cnt, n
           FROM by GROUP BY media_id, kind, bin, n)
         SELECT media_id, kind, CAST(bin AS INT) AS bin,
                CAST(round(CAST(CAST(cnt AS FLOAT) / CAST(GREATEST(n, 1) AS FLOAT) AS DOUBLE)
                     * 1000000.0) AS BIGINT) AS ffix
         FROM h ORDER BY media_id, bin"""), Timed),
  )
}
