"""Exact substring dedup via winnowing anchors + per-group suffix arrays.

Not in the reference (SURVEY.md §2.11) — from published work on exact
substring deduplication of web corpora (Lee et al. 2021) and document
fingerprinting (winnowing, Schleimer/Wilkerson/Aiken SIGMOD 2003).

Finds document pairs sharing a verbatim substring of length >= ``min_match``:

1. **Winnowing anchors** (Spark Column expressions, JVM-side): hash every
   ``k_gram``-char gram; in every window of ``w = min_match - k_gram + 1``
   consecutive grams select the leftmost minimal hash.  Any shared run of
   length >= min_match contains at least one *identical, fully-inside*
   window in both documents, whose minimum gram is selected by both — a
   deterministic, alignment-free rendezvous (the winnowing guarantee).
2. Each selected anchor emits a bounded **snippet** (±``snippet_radius``
   chars) — documents are never replicated wholesale.
3. Snippets group by anchor hash; inside each group a NumPy suffix array
   over the concatenated snippets finds the longest cross-document common
   substrings (reported ``match_len`` is capped at the snippet width).
4. Pairs aggregate with max(match_len); hot anchors above
   ``max_group_docs`` are dropped (explicit skew guard, same policy as the
   MinHash bucket cap).

Shuffle volume is O(docs × len/w × snippet) — bounded and tunable, no
all-pairs term.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import LongType, StructField, StructType

_OUT_SCHEMA = StructType(
    [
        StructField("src", LongType()),
        StructField("dst", LongType()),
        StructField("match_len", LongType()),
    ]
)


def _suffix_array_bytes(data: bytes) -> np.ndarray:
    """Suffix array via prefix-doubling (pure NumPy).

    Round-7 kernel rewrite (same output — the suffix array of a string is
    unique, so any correct construction is bit-identical; verified against
    the former lexsort form on random blobs and real chunks):

    * the initial ranking covers EIGHT bytes at once (big-endian uint64
      words are ordered exactly like their byte sequences; positions past
      the end zero-pad, and a zero-padded short suffix ties only with a
      genuinely-zero continuation — the next round's out-of-range rank -1
      then breaks the tie in the correct shorter-is-smaller direction),
      skipping the k=1,2,4 doubling rounds;
    * each round sorts ONE packed int64 key ``rank*(n+1) + second+1``
      instead of a two-key lexsort (~2x less sort work, identical order).

    This function was 60% of the span/pair kernel CPU (cProfile, 8k-page
    sample: 20.4 s of 33.8 s)."""
    a = np.frombuffer(data, dtype=np.uint8)
    n = a.shape[0]
    if n == 0:
        return np.empty(0, dtype=np.int64)
    ext = np.concatenate([a, np.zeros(8, dtype=np.uint8)]).astype(np.uint64)
    words = np.zeros(n, dtype=np.uint64)
    for j in range(8):
        words |= ext[j : j + n] << np.uint64(56 - 8 * j)
    # capped remaining length as secondary key: zero-padding aliases a
    # short all-zero tail with a longer one ("0" vs "00" pad to the same
    # word) and the doubling loop can never separate two suffixes that are
    # BOTH past-end at every k — rank them shorter-first up front, which
    # is the correct lexicographic order whenever the padded words tie
    lencap = np.minimum(np.arange(n, 0, -1, dtype=np.int64), 8)
    sa = np.lexsort((lencap, words))
    rank = np.empty(n, dtype=np.int64)
    rank[sa[0]] = 0
    newgrp = (words[sa[1:]] != words[sa[:-1]]) | (lencap[sa[1:]] != lencap[sa[:-1]])
    rank[sa[1:]] = np.cumsum(newgrp)
    if rank[sa[-1]] == n - 1:
        return sa.astype(np.int64)
    k = 8
    tmp = np.empty(n, dtype=np.int64)
    base = np.int64(n + 1)
    while True:
        second = np.zeros(n, dtype=np.int64)  # holds second-rank + 1 (0 = past end)
        if k < n:
            second[: n - k] = rank[k:] + 1
        key = rank * base + second
        # default (quick)sort: order within still-tied keys is never
        # observable — ranks are assigned per key group, and the loop only
        # terminates on a round whose keys are all distinct
        order = np.argsort(key)
        sa = order
        tmp[sa[0]] = 0
        newgrp = key[sa[1:]] != key[sa[:-1]]
        tmp[sa[1:]] = np.cumsum(newgrp)
        rank, tmp = tmp, rank
        if rank[sa[-1]] == n - 1:
            break
        k <<= 1
    return sa.astype(np.int64)


def _adjacent_lcps(
    blob: bytes,
    sa: np.ndarray,
    max_lcp: int | None = None,
    min_interesting: int | None = None,
) -> np.ndarray:
    """LCP of adjacent suffix-array entries via hash binary-lifting.

    Vectorized passes instead of a per-byte Python loop; equality is
    checked with the rolling-hash family (collision prob ~2^-64 per probe).

    ``max_lcp``: upper bound on any adjacent LCP, when the caller knows
    one — the pair/span kernels do: two distinct chunk entries always
    diverge inside the unique per-entry separator, so no LCP can exceed
    max snippet length + the ≤6-byte shared separator prefix.  Halves the
    lifting passes (bit_length(max snippet) ≈ 8-9 vs bit_length(n) ≈ 17;
    this function was 24% of the span-kernel CPU).  Values are exact
    either way — a lifting step larger than the true LCP fails its hash
    probe and contributes nothing.

    ``min_interesting``: when the caller only ever READS values >=
    min_interesting (both kernels test ``lcp >= min_match`` and never look
    at sub-threshold values), one hash probe of the min_interesting-byte
    windows gates the full lifting: pairs whose windows differ get 0 (a
    value < min_interesting, exact for every downstream read) and only the
    qualifying minority (~10% on web text) pays the per-bit passes.  The
    window probe uses the same rolling-hash family (and therefore the same
    ~2^-64 collision trust) as every lifting step."""
    n = len(blob)
    c = np.frombuffer(blob, dtype=np.uint8).astype(np.uint64)
    with np.errstate(over="ignore"):
        binv_pows = np.empty(n, dtype=np.uint64)
        binv_pows[0] = 1
        if n > 1:
            np.cumprod(np.full(n - 1, _BINV, dtype=np.uint64), out=binv_pows[1:])
        pre = np.zeros(n + 1, dtype=np.uint64)
        np.cumsum(c * binv_pows, out=pre[1:])
        bpow = np.empty(n + 1, dtype=np.uint64)
        bpow[0] = 1
        np.cumprod(np.full(n, _B, dtype=np.uint64), out=bpow[1:])

        i = sa[:-1].astype(np.int64)
        j = sa[1:].astype(np.int64)
        n_pairs = i.shape[0]
        cand = None
        if min_interesting is not None and 1 < min_interesting <= n:
            g = min_interesting
            gate_ok = (i + g <= n) & (j + g <= n)
            hgi = (pre[np.minimum(i + g, n)] - pre[np.minimum(i, n)]) * bpow[
                np.minimum(i, n)
            ]
            hgj = (pre[np.minimum(j + g, n)] - pre[np.minimum(j, n)]) * bpow[
                np.minimum(j, n)
            ]
            # pairs cut short by the blob end lift fully (cannot pass the
            # fixed-width gate even when their true lcp qualifies post-clamp)
            cand = (~gate_ok) | (hgi == hgj)
            i = i[cand]
            j = j[cand]
        lcp = np.zeros(i.shape[0], dtype=np.int64)
        max_b = max(0, n if max_lcp is None else min(n, max_lcp)).bit_length()
        for b in range(max_b, -1, -1):
            step = 1 << b
            ii = i + lcp
            jj = j + lcp
            ok = (ii + step <= n) & (jj + step <= n)
            hi = (pre[np.minimum(ii + step, n)] - pre[np.minimum(ii, n)]) * bpow[
                np.minimum(ii, n)
            ]
            hj = (pre[np.minimum(jj + step, n)] - pre[np.minimum(jj, n)]) * bpow[
                np.minimum(jj, n)
            ]
            ext = ok & (hi == hj)
            lcp[ext] += step
    if cand is not None:
        full = np.zeros(n_pairs, dtype=np.int64)
        full[cand] = lcp
        return full
    return lcp


def _find_pairs_in_group(pdf: pd.DataFrame, min_match: int) -> pd.DataFrame:
    texts = [t.encode("utf-8", "ignore") for t in pdf["snippet"]]
    ids = pdf["doc_id"].to_numpy()
    # unique per-doc separators: an LCP can never extend across a boundary
    # (a shared "...tail\x00head..." with a single shared separator byte
    # could otherwise inflate match_len across documents)
    parts = []
    for idx, t in enumerate(texts):
        parts.append(t)
        parts.append(b"\x00" + idx.to_bytes(4, "little") + b"\x00")
    blob = b"".join(parts)
    # owner = -1 for separator bytes: a suffix STARTING inside doc i's
    # separator is mostly composed of doc i+1's text — attributing it to
    # doc i emitted false pairs (doc i "matching" whatever run docs i+1 and
    # i+2 genuinely share, e.g. aligned snippet prefixes of a true dup pair).
    owner_of = np.full(len(blob), -1, dtype=np.int64)
    # text_end_of[p] = end offset of the text region containing p (p itself
    # for separator bytes) — used to CLAMP each LCP at its document's end.
    # Without the clamp, two matches that both end exactly at their doc ends
    # extend one byte into the shared leading '\x00' of the separators,
    # overcounting match_len by 1 and emitting false pairs at the threshold
    # boundary (caught by tests/test_suffix_property.py).
    text_end_of = np.arange(len(blob), dtype=np.int64)
    pos = 0
    for idx, t in enumerate(texts):
        owner_of[pos : pos + len(t)] = idx
        text_end_of[pos : pos + len(t)] = pos + len(t)
        pos += len(t) + 6
    sa = _suffix_array_bytes(blob)

    # adjacent LCP array, then maximal intervals with lcp >= min_match:
    # ALL owners inside an interval pairwise share a run >= the interval
    # minimum (adjacent-only scanning misses non-adjacent pairs when a
    # third copy interleaves between them in suffix order).  Fully
    # vectorized: the former per-position Python scan + per-pair emit()
    # dominated the kernel (millions of calls on boilerplate-heavy chunks).
    max_snip = max((len(t) for t in texts), default=0)
    lcp = _adjacent_lcps(
        blob, sa, max_lcp=max_snip + 8, min_interesting=min_match
    )
    rem = text_end_of[sa] - sa  # valid text bytes remaining per suffix
    np.minimum(lcp, np.minimum(rem[:-1], rem[1:]), out=lcp)

    empty = pd.DataFrame(
        {
            "src": pd.Series([], dtype="int64"),
            "dst": pd.Series([], dtype="int64"),
            "match_len": pd.Series([], dtype="int64"),
        }
    )
    idx = np.nonzero(lcp >= min_match)[0]
    if idx.shape[0] == 0:
        return empty
    # interval id per qualifying position (gaps of >1 start a new interval)
    new_run = np.diff(idx, prepend=idx[0] - 2) > 1
    iid = np.cumsum(new_run) - 1
    imin = np.minimum.reduceat(lcp[idx], np.nonzero(new_run)[0])

    frames = []
    # adjacent pairs: exact lcp value per qualifying position
    o1 = owner_of[sa[idx]]
    o2 = owner_of[sa[idx + 1]]
    ok = (o1 >= 0) & (o2 >= 0)
    a_ids, b_ids = ids[o1[ok]], ids[o2[ok]]
    mask = a_ids != b_ids
    frames.append(
        pd.DataFrame(
            {
                "src": np.minimum(a_ids[mask], b_ids[mask]),
                "dst": np.maximum(a_ids[mask], b_ids[mask]),
                "match_len": lcp[idx][ok][mask],
            }
        )
    )
    # interval all-pairs at the interval min: members are the suffixes at
    # positions idx and idx+1 of each run; unique (interval, owner) rows
    # self-merged give the pairwise combinations without a Python loop
    mem = pd.DataFrame(
        {
            "iid": np.concatenate([iid, iid]),
            "o": np.concatenate([o1, o2]),
        }
    )
    mem = mem[mem.o >= 0].drop_duplicates()
    mem["doc"] = ids[mem.o.to_numpy()]
    mem = mem.drop_duplicates(["iid", "doc"])
    if len(mem) > 1:
        m = mem.merge(mem, on="iid")
        m = m[m.doc_x < m.doc_y]
        if len(m):
            frames.append(
                pd.DataFrame(
                    {
                        "src": m.doc_x.to_numpy(),
                        "dst": m.doc_y.to_numpy(),
                        "match_len": imin[m.iid.to_numpy()],
                    }
                )
            )
    allp = pd.concat(frames, ignore_index=True)
    if not len(allp):
        return empty
    out = (
        allp.groupby(["src", "dst"], as_index=False)["match_len"]
        .max()
        .astype({"src": "int64", "dst": "int64", "match_len": "int64"})
    )
    return out


# ---------------------------------------------------------------------------
# O(n) NumPy winnowing (production anchor path)
# ---------------------------------------------------------------------------

_B = np.uint64(1099511628211)  # FNV64 prime (odd → invertible mod 2^64)
_BINV = np.uint64(pow(1099511628211, -1, 2 ** 64))


def _rolling_gram_hashes(data: bytes, k: int) -> np.ndarray:
    """Content-defined 64-bit hash of every k-byte gram in O(n).

    Rabin-Karp with wraparound uint64 arithmetic: prefix sums of
    c[i]*B^{-i}, window hash = (pre[i+k]-pre[i]) * B^i — identical hash for
    identical byte windows at any offset."""
    c = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    n = c.shape[0]
    if n < k:
        return np.empty(0, dtype=np.uint64)
    with np.errstate(over="ignore"):
        binv_pows = np.empty(n, dtype=np.uint64)
        binv_pows[0] = 1
        if n > 1:
            np.cumprod(np.full(n - 1, _BINV, dtype=np.uint64), out=binv_pows[1:])
        pre = np.zeros(n + 1, dtype=np.uint64)
        np.cumsum(c * binv_pows, out=pre[1:])
        bpows = np.empty(n - k + 1, dtype=np.uint64)
        bpows[0] = 1
        if n - k > 0:
            np.cumprod(np.full(n - k, _B, dtype=np.uint64), out=bpows[1:])
        return (pre[k:] - pre[: n - k + 1]) * bpows


def _sliding_ext(a: np.ndarray, w: int, op) -> np.ndarray:
    """O(n) sliding min/max via the block prefix/suffix trick."""
    n = a.shape[0]
    if n == 0 or w > n:
        return np.empty(0, dtype=a.dtype)
    pad = np.iinfo(a.dtype).max if op is np.minimum else np.iinfo(a.dtype).min
    nb = -(-n // w)
    padded = np.full(nb * w, pad, dtype=a.dtype)
    padded[:n] = a
    blocks = padded.reshape(nb, w)
    pref = op.accumulate(blocks, axis=1).ravel()
    suff = op.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
    return op(suff[: n - w + 1], pref[w - 1 : n])


def _winnow_positions(h: np.ndarray, w: int) -> np.ndarray:
    """Winnowing selection: gram j is an anchor iff h[j] is the minimum of
    some window of w consecutive grams.  Equivalent test: h[j] equals the
    max over containing windows of the per-window minima."""
    ng = h.shape[0]
    if ng == 0:
        return np.empty(0, dtype=np.int64)
    if ng <= w:
        return np.array([int(np.argmin(h))], dtype=np.int64)
    M = _sliding_ext(h, w, np.minimum)  # per-window minima, len ng-w+1
    pad = np.iinfo(np.uint64).min
    Mpad = np.concatenate(
        [np.full(w - 1, pad, np.uint64), M, np.full(w - 1, pad, np.uint64)]
    )
    T = _sliding_ext(Mpad, w, np.maximum)[:ng]
    return np.nonzero(h == T)[0].astype(np.int64)


def winnowing_positions_kernel(
    docs: DataFrame,
    min_match: int,
    k_gram: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    dedup_anchors: bool = True,
) -> DataFrame:
    """Light anchor stream (doc_id, anchor, pos) — no snippet bytes.

    mapInPandas O(n) kernel per document; `pos` is the BYTE offset of the
    selected gram.  The winnowing rendezvous guarantee — any shared run
    >= min_match yields a shared anchor — is hash-family independent.

    ``dedup_anchors``: keep one position per (doc, anchor) (enough for the
    PAIR operator — any one shared anchor finds the pair).  The SPAN
    operator needs every position: intra-doc repeated content that is also
    cross-doc shared must emit a span at every occurrence."""
    from collections.abc import Iterator

    from pyspark.sql.types import StructField, StructType

    w = min_match - k_gram + 1
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("anchor", LongType()),
            StructField("pos", LongType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, anchors, poss = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                data = text.encode("utf-8", "ignore")
                # min_match is a BYTE threshold (the kernel hashes UTF-8
                # bytes) — compare byte length, not len(text) chars, or short
                # non-ASCII docs whose byte length qualifies are skipped
                if len(data) < min_match:
                    continue
                h = _rolling_gram_hashes(data, k_gram)
                pos = _winnow_positions(h, w)
                vals = h[pos].astype(np.int64)  # uint64 → signed wrap
                if dedup_anchors:
                    # per-doc anchor dedup keeping the FIRST position — same
                    # semantics as a seen-set scan (np.unique's return_index
                    # is the first occurrence), no per-anchor Python
                    ua, first = np.unique(vals, return_index=True)
                    vals, pos = ua, pos[first]
                ids.append(np.full(vals.shape[0], int(doc_id), dtype=np.int64))
                anchors.append(vals)
                poss.append(pos)
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids),
                        "anchor": np.concatenate(anchors),
                        "pos": np.concatenate(poss),
                    }
                )

    from lsh_rs_spark.tuning import scan_parallelism_boost

    d = scan_parallelism_boost(docs, id_col).select(
        F.col(id_col).alias(id_col), F.col(text_col).alias(text_col)
    ).where(
        # octet_length: min_match is a BYTE threshold (kernels hash UTF-8
        # bytes); F.length counts chars and would drop short non-ASCII docs
        # whose byte length qualifies
        F.col(text_col).isNotNull() & (F.octet_length(text_col) >= min_match)
    )
    return d.mapInPandas(fn, schema=schema)


def winnowing_anchors_kernel(
    docs: DataFrame,
    min_match: int,
    k_gram: int,
    snippet_radius: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Single-phase production anchor generator: (doc_id, anchor, snippet).

    O(n) NumPy winnowing per doc, snippet cut in the same pass.  For
    corpora where exact-substring duplication is sparse, prefer
    winnowing_anchors_two_phase (ships snippet bytes only for colliding
    anchors at the cost of running the kernel against a persisted light
    stream + one extra join)."""
    from collections.abc import Iterator

    from pyspark.sql.types import StringType, StructField, StructType

    w = min_match - k_gram + 1
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("anchor", LongType()),
            StructField("snippet", StringType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "anchor": [], "snippet": []}
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                data = text.encode("utf-8", "ignore")
                if len(data) < min_match:  # byte threshold, see above
                    continue
                h = _rolling_gram_hashes(data, k_gram)
                pos = _winnow_positions(h, w)
                vals = h[pos].astype(np.int64)
                ua, first = np.unique(vals, return_index=True)
                for p, a in zip(pos[first].tolist(), ua.tolist()):
                    lo = max(0, p - snippet_radius)
                    out["doc_id"].append(int(doc_id))
                    out["anchor"].append(a)
                    out["snippet"].append(
                        data[lo : lo + 2 * snippet_radius].decode("utf-8", "ignore")
                    )
            yield pd.DataFrame(out)

    from lsh_rs_spark.tuning import scan_parallelism_boost

    d = scan_parallelism_boost(docs, id_col).select(
        F.col(id_col).alias(id_col), F.col(text_col).alias(text_col)
    ).where(
        # octet_length: min_match is a BYTE threshold (kernels hash UTF-8
        # bytes); F.length counts chars and would drop short non-ASCII docs
        # whose byte length qualifies
        F.col(text_col).isNotNull() & (F.octet_length(text_col) >= min_match)
    )
    return d.mapInPandas(fn, schema=schema)


def winnowing_anchors_two_phase(
    docs: DataFrame,
    min_match: int,
    k_gram: int,
    snippet_radius: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_group_docs: int = 200,
    dedup_anchors: bool = True,
    binary_snippets: bool = False,
) -> DataFrame:
    """Two-phase anchor generator: (doc_id, anchor, snip_off, snippet).

    Phase 1 ships only 24-byte (doc_id, anchor, pos) rows (persisted —
    referenced twice); phase 2 cuts snippets ONLY for anchors colliding in
    [2, max_group_docs] documents — at sparse web dup rates the snippet
    shuffle shrinks ~10-50× versus a snippet per anchor.  ``snip_off`` is
    the snippet's start BYTE offset in the doc (0-based) — the span
    operator maps blob matches back to document coordinates with it.

    ``dedup_anchors=False`` (span mode) keeps every anchor position; the
    collision filter then counts DISTINCT docs per anchor (with dedup the
    plain row count is already the distinct-doc count).

    ``binary_snippets=True`` emits ``snippet`` as raw BYTES (BinaryType)
    instead of a decoded string: a byte slice that cuts a multibyte UTF-8
    char mid-sequence round-trips losslessly as bytes, whereas
    decode('utf-8','ignore') silently DROPS the partial leading char and
    shifts every downstream byte offset — required for byte-exact span
    offsets on non-ASCII text (span mode always uses it)."""
    from collections.abc import Iterator

    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    light = winnowing_positions_kernel(
        docs, min_match, k_gram, id_col, text_col, dedup_anchors=dedup_anchors
    )
    from lsh_rs_spark.tuning import pinned_key_partitions

    # pin the collision-count window's exchange width (same rationale as
    # the SA-group pin: byte-based coalescing serialized this stage)
    light = pinned_key_partitions(light, "anchor")
    wa = Window.partitionBy("anchor")
    cnt = (
        F.count("*").over(wa) if dedup_anchors
        else F.size(F.collect_set("doc_id").over(wa))
    )
    sel = (
        light.withColumn("_n", cnt)
        .where((F.col("_n") >= 2) & (F.col("_n") <= max_group_docs))
        .drop("_n")
    )
    per_doc = sel.groupBy("doc_id").agg(
        F.collect_list(F.struct("anchor", "pos")).alias("aps")
    )
    from lsh_rs_spark.tuning import scan_parallelism_boost

    # boost the docs side too: the snippet-cut kernel below runs on this
    # join's output partitioning, which a one-file corpus pins to 1 task
    joined = per_doc.join(
        scan_parallelism_boost(docs, id_col).select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        ),
        "doc_id",
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("anchor", LongType()),
            StructField("snip_off", LongType()),
            StructField(
                "snippet", BinaryType() if binary_snippets else StringType()
            ),
        ]
    )

    def cut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "anchor": [], "snip_off": [], "snippet": []}
            for doc_id, aps, text in zip(pdf["doc_id"], pdf["aps"], pdf["text"]):
                data = text.encode("utf-8", "ignore")
                for row in aps:
                    a, p = int(row["anchor"]), int(row["pos"])
                    lo = max(0, p - snippet_radius)
                    raw = data[lo : lo + 2 * snippet_radius]
                    out["doc_id"].append(int(doc_id))
                    out["anchor"].append(a)
                    out["snip_off"].append(lo)
                    out["snippet"].append(
                        raw if binary_snippets else raw.decode("utf-8", "ignore")
                    )
            yield pd.DataFrame(out)

    return joined.mapInPandas(cut, schema=schema)


def substring_dup_pairs(
    docs: DataFrame,
    min_match: int = 64,
    k_gram: int = 24,
    snippet_radius: int = 128,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_group_docs: int = 200,
) -> DataFrame:
    """(src, dst, match_len): pairs sharing a verbatim run >= min_match.

    Detection is deterministic for runs in [min_match, 2*snippet_radius];
    longer runs are reported with match_len capped near 2*snippet_radius.
    Hot anchors (> max_group_docs docs) are dropped — counted via
    ``hot_anchor_count`` if needed by the caller.

    Anchors are two-phase (``winnowing_anchors_two_phase``): phase 1 ships
    24-byte (doc_id, anchor, pos) rows; snippet bytes are cut ONLY for
    anchors colliding in >= 2 documents.  A single-doc anchor can never
    form a pair, so the emitted pair set equals the one-pass form's
    (``winnowing_anchors_kernel``) while the snippet shuffle shrinks by the
    non-colliding fraction (~10-50× at sparse web dup rates — measured in
    bench.py as substring_snippet_bytes_{single,two}_phase).
    """
    if k_gram >= min_match:
        raise ValueError("k_gram must be < min_match")
    anchors = winnowing_anchors_two_phase(
        docs, min_match, k_gram, snippet_radius, id_col, text_col,
        max_group_docs=max_group_docs,
    )
    # One shuffle total: collect each anchor group into a single row, then
    # run the per-group suffix-array kernel with mapInPandas directly over
    # the grouped rows (many groups per Arrow batch — cheaper than
    # applyInPandas, which re-shuffles and invokes the kernel per group).
    # The exchange is PINNED at the session's shuffle-partition count:
    # AQE's byte-based coalescing squeezed the ~10 MB snippet stream into
    # 6 partitions and the SA kernel — the CPU-dominant stage of this
    # query — ran on 6 cores (5.7 s of a 7.1 s query, round-7 event log).
    from lsh_rs_spark.tuning import pinned_key_partitions

    anchors = pinned_key_partitions(anchors, "anchor")
    grouped = (
        anchors.groupBy("anchor")
        .agg(F.collect_list(F.struct("doc_id", "snippet")).alias("members"))
        .where((F.size("members") >= 2) & (F.size("members") <= max_group_docs))
    )

    # Chunked kernel invocation: a per-group suffix array pays ~50 NumPy
    # calls for a ~500-byte blob (overhead-dominated — most groups have 2
    # members).  Instead, whole groups are packed into ~64 KB chunk blobs
    # and ONE suffix array runs per chunk.  Group atomicity is preserved
    # (a group never splits across chunks) so every per-group pair is
    # found; additional same-chunk cross-group pairs are genuine verified
    # matches (snippets sharing a run >= min_match) that winnowing already
    # guarantees a shared anchor group for — the emitted pair SET is
    # unchanged (oracle-gated), ~10× less per-group overhead.
    chunk_bytes = 64 << 10

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            ids: list[int] = []
            snips: list[str] = []
            seen: set = set()
            size = 0

            def flush():
                nonlocal ids, snips, seen, size
                if len(set(ids)) >= 2:
                    outs.append(
                        _find_pairs_in_group(
                            pd.DataFrame({"doc_id": ids, "snippet": snips}),
                            min_match,
                        )
                    )
                ids, snips, seen, size = [], [], set(), 0

            for members in pdf["members"]:
                uniq: dict = {}
                for m in members:
                    uniq[(int(m["doc_id"]), m["snippet"])] = None
                if len({d for d, _ in uniq}) < 2:
                    continue
                g_size = sum(len(s) for _, s in uniq)
                if size + g_size > chunk_bytes and ids:
                    flush()
                for key in uniq:
                    if key not in seen:
                        seen.add(key)
                        ids.append(key[0])
                        snips.append(key[1])
                        size += len(key[1])
            flush()
            yield (
                pd.concat(outs, ignore_index=True)
                if outs
                else pd.DataFrame(
                    {
                        "src": pd.Series([], dtype="int64"),
                        "dst": pd.Series([], dtype="int64"),
                        "match_len": pd.Series([], dtype="int64"),
                    }
                )
            )

    pairs = grouped.mapInPandas(fn, schema=_OUT_SCHEMA)
    return pairs.groupBy("src", "dst").agg(F.max("match_len").alias("match_len"))


# ---------------------------------------------------------------------------
# Duplicated-span extraction (Lee et al. 2021 §4: remove the duplicated
# byte ranges, not whole documents)
# ---------------------------------------------------------------------------

_SPAN_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("span_start", LongType()),
        StructField("span_end", LongType()),
    ]
)


def _best_cross_doc_lcp(d: np.ndarray, l: np.ndarray) -> np.ndarray:
    """Per member of one suffix-array interval: the longest prefix shared
    with a member from a DIFFERENT document.

    Members are consecutive SA rows; ``l[j]`` is the (clamped) LCP between
    members j and j+1, all >= min_match; pairwise LCP(j,k) = min(l[j..k-1]).
    Two sweeps (left→right, right→left), each maintaining the top-2
    candidates by decayed value with DISTINCT doc ids — sufficient for
    "max value among candidates whose doc differs from mine" because the
    decay (min with each crossed edge) is uniform, so order is preserved
    and a dropped third candidate can never overtake the kept
    different-doc one."""
    r = d.shape[0]
    best = np.zeros(r, dtype=np.int64)
    INF = 1 << 62
    for idx_iter, edge_of in (
        (range(r), lambda j: l[j - 1]),       # left→right: edge (j-1, j)
        (range(r - 1, -1, -1), lambda j: l[j]),  # right→left: edge (j, j+1)
    ):
        cands: list[list] = []  # [doc, value], at most 2, distinct docs
        first = True
        for j in idx_iter:
            if not first:
                e = int(edge_of(j))
                for c in cands:
                    if c[1] > e:
                        c[1] = e
            first = False
            for c in cands:
                if c[0] != d[j] and c[1] > best[j]:
                    best[j] = c[1]
            # insert member j at INF (its pairwise LCP to later members is
            # the running min of crossed edges, applied by the decay above)
            for c in cands:
                if c[0] == d[j]:
                    c[1] = INF
                    break
            else:
                cands.append([int(d[j]), INF])
            cands.sort(key=lambda c: -c[1])
            del cands[2:]
    return best


def _find_spans_in_group(
    ids: list, offs: list, snips: list, min_match: int
) -> pd.DataFrame:
    """Spans of cross-document shared runs inside one packed snippet blob.

    Same SA + adjacent-LCP machinery as ``_find_pairs_in_group``, plus a
    byte-offset map back into document coordinates (``snip_off``).  For
    every suffix in a maximal >=min_match LCP interval, the emitted span is
    [doc_off, doc_off + best) where best is its longest cross-doc shared
    prefix — the union of those spans over all tiling snippets is exactly
    the duplicated regions (winnowing places anchors at most w apart inside
    any shared run, and snippet_radius >= min_match covers the run's edges
    past the first/last in-run anchor).

    Snippets may be BYTES (the span path's lossless transport — exact byte
    offsets on non-ASCII text) or str (encoded here, ASCII-exact)."""
    texts = [
        bytes(s) if isinstance(s, (bytes, bytearray, memoryview))
        else s.encode("utf-8", "ignore")
        for s in snips
    ]
    parts = []
    for idx, t in enumerate(texts):
        parts.append(t)
        parts.append(b"\x00" + idx.to_bytes(4, "little") + b"\x00")
    blob = b"".join(parts)
    owner_of = np.full(len(blob), -1, dtype=np.int64)
    text_end_of = np.arange(len(blob), dtype=np.int64)
    doc_off_of = np.zeros(len(blob), dtype=np.int64)
    pos = 0
    for idx, t in enumerate(texts):
        owner_of[pos : pos + len(t)] = idx
        text_end_of[pos : pos + len(t)] = pos + len(t)
        doc_off_of[pos : pos + len(t)] = np.arange(len(t)) + int(offs[idx])
        pos += len(t) + 6
    sa = _suffix_array_bytes(blob)
    max_snip = max((len(t) for t in texts), default=0)
    lcp = _adjacent_lcps(
        blob, sa, max_lcp=max_snip + 8, min_interesting=min_match
    )
    rem = text_end_of[sa] - sa
    np.minimum(lcp, np.minimum(rem[:-1], rem[1:]), out=lcp)

    empty = pd.DataFrame(
        {
            "doc_id": pd.Series([], dtype="int64"),
            "span_start": pd.Series([], dtype="int64"),
            "span_end": pd.Series([], dtype="int64"),
        }
    )
    qual = np.nonzero(lcp >= min_match)[0]
    if qual.shape[0] == 0:
        return empty
    ids_arr = np.asarray(ids, dtype=np.int64)
    new_run = np.diff(qual, prepend=qual[0] - 2) > 1
    bounds = np.nonzero(new_run)[0].tolist() + [qual.shape[0]]
    # accumulate per-interval NumPy arrays and build ONE frame at the end:
    # boilerplate-heavy chunks produce ~10⁴ tiny intervals (~2 rows each),
    # and a pd.DataFrame per interval made frame construction ~85% of the
    # whole span kernel (measured: 1.58M constructions = 445 of 710 s at
    # 8k pages; the SA itself is <5%)
    out_d: list[np.ndarray] = []
    out_s: list[np.ndarray] = []
    out_e: list[np.ndarray] = []
    # 2-member intervals (the overwhelming majority on web text) are fully
    # vectorizable: one qualifying SA row, best cross-doc LCP = that row's
    # LCP for both members iff the two docs differ — same output the
    # two-sweep general path produces for r=2
    barr = np.asarray(bounds, dtype=np.int64)
    sizes = np.diff(barr)
    single = np.nonzero(sizes == 1)[0]
    if single.shape[0]:
        r1 = qual[barr[single]]
        p0, p1 = sa[r1], sa[r1 + 1]
        d0, d1 = ids_arr[owner_of[p0]], ids_arr[owner_of[p1]]
        ok = d0 != d1
        if ok.any():
            ln = lcp[r1[ok]]  # >= min_match by construction (r1 ∈ qual)
            s0, s1 = doc_off_of[p0[ok]], doc_off_of[p1[ok]]
            out_d += [d0[ok], d1[ok]]
            out_s += [s0, s1]
            out_e += [s0 + ln, s1 + ln]
    for bi in np.nonzero(sizes > 1)[0]:
        rows = qual[bounds[bi] : bounds[bi + 1]]
        member_rows = np.arange(rows[0], rows[-1] + 2)
        p = sa[member_rows]
        # separator-start suffixes cannot appear here: their rem is 0, so
        # their adjacent LCPs are clamped to 0 and break any interval
        d = ids_arr[owner_of[p]]
        if np.unique(d).shape[0] < 2:
            continue  # intra-doc repeat only — not cross-document
        best = _best_cross_doc_lcp(d, lcp[rows])
        emit = np.nonzero(best >= min_match)[0]
        if emit.shape[0]:
            starts = doc_off_of[p[emit]]
            out_d.append(d[emit])
            out_s.append(starts)
            out_e.append(starts + best[emit])
    if not out_d:
        return empty
    return pd.DataFrame(
        {
            "doc_id": np.concatenate(out_d),
            "span_start": np.concatenate(out_s),
            "span_end": np.concatenate(out_e),
        }
    )


def merge_spans(spans: DataFrame) -> DataFrame:
    """Union overlapping/touching (doc_id, span_start, span_end) intervals —
    pure window expressions (gaps-and-islands), identical logic to the
    DuckDB oracle twin."""
    w = Window.partitionBy("doc_id").orderBy("span_start", "span_end")
    prev_end = F.max("span_end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = spans.withColumn(
        "_new",
        F.when(prev_end.isNull() | (F.col("span_start") > prev_end), 1).otherwise(0),
    )
    islanded = flagged.withColumn(
        "_island",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islanded.groupBy("doc_id", "_island")
        .agg(
            F.min("span_start").alias("span_start"),
            F.max("span_end").alias("span_end"),
        )
        .select("doc_id", "span_start", "span_end")
    )


def substring_dup_spans(
    docs: DataFrame,
    min_match: int = 64,
    k_gram: int = 24,
    snippet_radius: int = 128,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_group_docs: int = 200,
) -> DataFrame:
    """(doc_id, span_start, span_end): merged 0-based byte ranges of every
    cross-document verbatim run >= min_match — the corpus-cleaning output
    of Lee et al. 2021 §4 (remove the duplicated bytes, keep the rest).

    Exact-span recovery requires ``snippet_radius >= min_match`` (snippets
    then tile any shared run end to end: in-run anchors are at most
    w = min_match - k_gram + 1 apart and the first/last are within
    k_gram + w - 1 = min_match bytes of the run edges).  Anchor positions
    are NOT deduped per doc — intra-doc repeated content that is also
    shared cross-doc must span every occurrence.  Offsets are BYTE offsets
    into the UTF-8 encoding and are exact for any input (snippets travel
    as lossless bytes); the byte==char equivalence the SQL oracle twin
    relies on additionally requires ASCII text (same caveat as the pair
    operator's gate).  Hot anchors above ``max_group_docs`` distinct docs
    (or ``4*max_group_docs`` total positions) are dropped (explicit skew
    guard)."""
    if k_gram >= min_match:
        raise ValueError("k_gram must be < min_match")
    if snippet_radius < min_match:
        raise ValueError(
            "snippet_radius must be >= min_match for exact span recovery"
        )
    anchors = winnowing_anchors_two_phase(
        docs, min_match, k_gram, snippet_radius, id_col, text_col,
        max_group_docs=max_group_docs, dedup_anchors=False,
        binary_snippets=True,  # lossless byte transport: exact offsets
        # even when a snippet slice cuts a multibyte UTF-8 char
    )
    # Span mode keeps EVERY anchor position, so the distinct-doc cap alone
    # does not bound a group: one boilerplate-spam doc repeating a block
    # 50k times would collect 50k snippet structs into a single
    # aggregation row.  Guard total member ROWS per anchor BEFORE the
    # collect (window count on the same partitioning — no extra exchange,
    # same mechanism as the pairing path's bucket_guard); dropped hot
    # anchors are the documented skew policy, never silent
    # (max_group_rows plays the max_bucket_size role).
    from lsh_rs_spark.operators.lsh import bucket_guard

    max_group_rows = 4 * max_group_docs
    # bucket_guard pins the anchor exchange width: the guard window AND
    # the group aggregation below both reuse that one exchange, and the
    # per-group SA kernel (the CPU-dominant stage) keeps full parallelism
    # instead of AQE's byte-coalesced handful of partitions (see
    # substring_dup_pairs)
    anchors = bucket_guard(anchors, ["anchor"], max_group_rows)
    grouped = (
        anchors.groupBy("anchor")
        .agg(
            F.collect_list(F.struct("doc_id", "snip_off", "snippet")).alias(
                "members"
            )
        )
        .where(F.size(F.array_distinct(F.transform(
            "members", lambda m: m["doc_id"]))) >= 2)
    )

    chunk_bytes = 64 << 10

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            ids: list[int] = []
            offs: list[int] = []
            snips: list[str] = []
            seen: set = set()
            size = 0

            def flush():
                nonlocal ids, offs, snips, seen, size
                if len(set(ids)) >= 2:
                    outs.append(
                        _find_spans_in_group(ids, offs, snips, min_match)
                    )
                ids, offs, snips, seen, size = [], [], [], set(), 0

            for members in pdf["members"]:
                uniq: dict = {}
                for m in members:
                    uniq[(int(m["doc_id"]), int(m["snip_off"]), m["snippet"])] = None
                if len({d for d, _, _ in uniq}) < 2:
                    continue
                g_size = sum(len(s) for _, _, s in uniq)
                if size + g_size > chunk_bytes and ids:
                    flush()
                for key in uniq:
                    if key not in seen:
                        seen.add(key)
                        ids.append(key[0])
                        offs.append(key[1])
                        snips.append(key[2])
                        size += len(key[2])
            flush()
            yield (
                pd.concat(outs, ignore_index=True)
                if outs
                else pd.DataFrame(
                    {
                        "doc_id": pd.Series([], dtype="int64"),
                        "span_start": pd.Series([], dtype="int64"),
                        "span_end": pd.Series([], dtype="int64"),
                    }
                )
            )

    raw = grouped.mapInPandas(fn, schema=_SPAN_SCHEMA)
    # pre-merge duplicates cheaply before the window (tiling snippets emit
    # the same sub-span many times), then island-merge
    return merge_spans(raw.distinct())


def strip_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, clean_text): documents with their duplicated spans removed
    byte-identically — pure Column expressions (sort spans per doc, fold
    over them keeping the inter-span segments).

    ``spans`` must be disjoint per doc (the ``merge_spans``d output of
    ``substring_dup_spans``); offsets are 0-based BYTE offsets, [start,
    end).  The fold runs over the UTF-8 BYTES (encode → binary substr →
    decode), so byte offsets index correctly on non-ASCII text too —
    char-based substr would silently shift every cut on a doc with any
    multibyte char.  If a span boundary cuts a multibyte char (possible:
    winnowing grams are byte-aligned), the decode of the cut edge is
    lossy at that edge only — inherent to byte-level span dedup (Lee et
    al. operate on bytes)."""
    per_doc = spans.groupBy(F.col("doc_id").alias("_sid")).agg(
        F.sort_array(F.collect_list(F.struct("span_start", "span_end"))).alias(
            "_spans"
        )
    )
    d = docs.join(
        per_doc, F.col(id_col) == F.col("_sid"), "left"
    ).drop("_sid")
    txt = F.encode(F.col(text_col), "UTF-8")  # byte-true indexing
    folded = F.aggregate(
        "_spans",
        F.struct(
            F.lit(0).cast("int").alias("pos"),
            F.lit(b"").alias("acc"),
        ),
        lambda acc, s: F.struct(
            s["span_end"].cast("int").alias("pos"),
            F.concat(
                acc["acc"],
                txt.substr(
                    acc["pos"] + 1, s["span_start"].cast("int") - acc["pos"]
                ),
            ).alias("acc"),
        ),
        lambda acc: F.concat(
            acc["acc"], txt.substr(acc["pos"] + 1, F.length(txt) - acc["pos"])
        ),
    )
    return d.select(
        F.col(id_col).alias("doc_id"),
        F.when(F.col("_spans").isNull(), F.col(text_col))
        .otherwise(F.decode(folded, "UTF-8"))
        .alias("clean_text"),
    )


def hot_span_anchor_count(
    docs: DataFrame, min_match: int = 64, k_gram: int = 24,
    max_group_docs: int = 200, id_col: str = "doc_id", text_col: str = "text",
) -> int:
    """Skew counter for the SPAN path: anchors dropped by either span-mode
    cap (more than ``max_group_docs`` distinct docs, or more than
    ``4*max_group_docs`` total positions — the bucket_guard bound
    ``substring_dup_spans`` applies before its collect).  Run next to the
    operator when drops must be accounted, same policy as
    ``dropped_buckets`` on the LSH path (capped, counted, never silent).
    Uses the light position stream only — no snippet bytes."""
    light = winnowing_positions_kernel(
        docs, min_match, k_gram, id_col, text_col, dedup_anchors=False
    )
    stats = light.groupBy("anchor").agg(
        F.countDistinct("doc_id").alias("nd"), F.count("*").alias("nr")
    )
    return stats.where(
        (F.col("nd") > max_group_docs) | (F.col("nr") > 4 * max_group_docs)
    ).count()


def hot_anchor_count(docs: DataFrame, min_match: int = 64, k_gram: int = 24,
                     snippet_radius: int = 128, max_group_docs: int = 200) -> int:
    """Skew counter: number of anchors dropped by the group cap.

    Uses the same vectorized kernel stream as production (the Column-
    expression path costs a full extra slow pass for a single counter).
    """
    anchors = winnowing_anchors_kernel(
        docs, min_match, k_gram, snippet_radius
    )
    return (
        anchors.groupBy("anchor")
        .agg(F.countDistinct("doc_id").alias("n"))
        .where(F.col("n") > max_group_docs)
        .count()
    )
