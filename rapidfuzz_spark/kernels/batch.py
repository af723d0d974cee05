"""Batch (many-pairs) scoring engine — the Arrow-batch hot path.

This is the Spark analogue of the reference's ``BatchComparator`` one×many
caching (/root/reference/src/distance/levenshtein.rs:1625-1657,
Readme.md:100-106), applied *within* an Arrow batch of a pandas UDF:

- one routing pass (``_route``) reduces every pair to its core: equal
  pairs short-cut, the common affix is stripped (not for Jaro, which is
  not affix-invariant), and the shorter side becomes the pattern. Pairs
  with an empty core are scored from the core lengths alone.
- patterns of up to 64*_BLOCK_MAX_WORDS chars are scored by
  **NumPy-vectorized blockwise Myers/Hyyrö kernels scheduled along
  anti-diagonals** (any codepoints — alphabets are densely remapped per
  chunk). Every 64-char word of every pattern in a chunk is one lane;
  lane (pair, w) processes text char j = step - w, so its carry-in from
  word w-1 was produced one step earlier for the same j, and one step of
  a fixed number of uint64 array ops advances every word of every pair,
  whatever mix of word counts the chunk holds. Pairs are sorted by the
  step their wavefront ends, so the active lanes are a shrinking prefix.
  A chunk of one-word patterns (<= 64 chars) skips the carry plumbing:
  its carry-in is the constant left boundary.
- longer patterns take the arbitrary-precision Python-int kernels with a
  per-batch pattern-mask cache keyed by the pattern string (the
  BatchComparator analogue: pattern state is built once per distinct s1).
- ``levenshtein_batch`` adds its own selectors on top of the shared
  pass: mbleven for cutoffs <= 3, the Ukkonen-banded kernel, and the
  score-hint band schedule.

No per-row Python UDF dispatch ever happens on the Spark side — one UDF
call scores the whole Arrow batch.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from . import damerau as _damerau
from . import jaro as _jaro
from . import osa as _osa
from .common import common_prefix_len, common_suffix_len, pm_vector
from .levenshtein import (
    mbleven_distance as _mbleven,
    myers_distance,
    wagner_fischer_weighted,
)
from .lcs_indel import lcs_length

_POPCNT_TABLE = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint64)


def _popcount_u64(x: np.ndarray) -> np.ndarray:
    x = np.ascontiguousarray(x)
    return _POPCNT_TABLE[x.view(np.uint8).reshape(len(x), 8)].sum(axis=1)


def _encode_codes(strings) -> tuple:
    """Concatenate Unicode codepoints (latin-1 bytes when possible, else
    UTF-32 words — latin-1 code == codepoint, so the domains agree)."""
    blob = "".join(strings)
    try:
        codes = np.frombuffer(blob.encode("latin-1"), dtype=np.uint8).astype(
            np.intp
        )
    except UnicodeEncodeError:
        codes = np.frombuffer(blob.encode("utf-32-le"), dtype=np.uint32).astype(
            np.intp
        )
    lens = np.fromiter((len(s) for s in strings), dtype=np.intp, count=len(strings))
    offs = np.zeros(len(strings) + 1, dtype=np.intp)
    np.cumsum(lens, out=offs[1:])
    return codes, lens, offs


def _compact_alphabet(pcodes: np.ndarray, tcodes: np.ndarray):
    """Remap codepoints to a dense alphabet of the PATTERN characters
    (slot 0 = 'not in any pattern', PM row 0 stays zero). PM tables shrink
    to |alphabet|+1 columns, keeping the per-batch gather tables
    cache-resident — the multi-process scaling bottleneck is the random
    PM gather, not compute. Latin-1 batches use a 256-entry lookup table;
    arbitrary codepoints (CJK/Cyrillic/emoji) go through a sorted-unique
    binary search — the NumPy analogue of the reference's growing hashmap
    (/root/reference/src/details/growing_hashmap.rs:99-165)."""
    uniq = np.unique(pcodes)
    nu = len(uniq)
    if (nu == 0 or uniq[-1] < 256) and (tcodes.size == 0 or tcodes.max() < 256):
        remap = np.zeros(256, dtype=np.intp)
        remap[uniq] = np.arange(1, nu + 1, dtype=np.intp)
        return remap[pcodes], remap[tcodes], nu + 1
    p_new = np.searchsorted(uniq, pcodes) + 1
    idx = np.searchsorted(uniq, tcodes)
    idx_c = np.minimum(idx, max(nu - 1, 0))
    t_new = np.where(
        (idx < nu) & (uniq[idx_c] == tcodes) if nu else np.zeros(len(tcodes), bool),
        idx_c + 1,
        0,
    )
    return p_new, t_new, nu + 1


def _build_pm(codes, lens, starts, row0, nrows: int, sigma: int) -> np.ndarray:
    """PM bitmask table, shape (nrows, sigma) uint64: pattern p (at
    ``starts[p]`` in ``codes``) has its char at position i set bit i % 64
    of row ``row0[p] + i // 64``."""
    pm = np.zeros((nrows, sigma), dtype=np.uint64)
    rows = np.repeat(row0, lens)
    pos = np.arange(len(codes), dtype=np.int64) - np.repeat(starts, lens)
    bits = np.uint64(1) << (pos & 63).astype(np.uint64)
    np.bitwise_or.at(pm, (rows + (pos >> 6), codes), bits)
    return pm


class _Lanes(NamedTuple):
    """A chunk laid out for the wavefront kernels.

    Pair p's pattern of W_p = ceil(len/64) words owns lanes
    ``off[p] .. off[p+1]-1``, one per word, low word first. At step s,
    lane (p, w) processes text char j = s - w, so its horizontal carry-in
    is the carry-out lane (p, w-1) produced at step s-1 for the same j,
    and one step advances every word of every pair. Pair p is active for
    its first ``end[p]`` = T_p + W_p - 1 steps; pairs are sorted by
    ``end`` descending, so the active pairs, and with them the active
    lanes, are a prefix. Texts sit in ``codes`` W_max - 1 zero codes
    apart, and code 0 matches no pattern char (``_compact_alphabet``): a
    lane not yet started (j < 0) reads zeros, which leave every kernel's
    initial state and carries unchanged. A lane past its text's end
    (j >= T_p) computes garbage that only reaches higher lanes, also past
    the end, so the kernels read a pair's score at its last lane while
    the pair is active."""

    order: np.ndarray  # lane-layout pair -> input pair
    plen: np.ndarray
    tlen: np.ndarray
    end: np.ndarray
    off: np.ndarray  # first lane per pair, off[-1] = lane count
    word: np.ndarray  # per lane: word index w
    pm: np.ndarray  # (lanes * sigma,) match masks, lane-major
    pmrow: np.ndarray  # per lane: lane * sigma
    codes: np.ndarray  # remapped text codes with the zero gaps
    tpos: np.ndarray  # per lane: codes index of the lane's char at step 0
    top: np.ndarray  # per lane: carry-out bit (the pattern's last at the last lane)
    pcodes: np.ndarray  # remapped pattern codes, in lane-layout order
    pstart: np.ndarray  # per pair: pcodes index of the pattern's first char
    tbase: np.ndarray  # per pair: codes index of the text's first char


def _reorder(codes: np.ndarray, offs: np.ndarray, order: np.ndarray, gap: int = 0):
    """The strings held in ``codes`` at ``offs``, in ``order``, ``gap``
    zero codes apart and around: the new blob and each string's start."""
    n = len(order)
    lens = np.diff(offs)[order]
    cum = np.zeros(n + 1, dtype=np.intp)
    np.cumsum(lens, out=cum[1:])
    k = np.arange(cum[-1], dtype=np.intp)
    seq = codes[np.repeat(offs[:-1][order] - cum[:-1], lens) + k]
    if not gap:
        return seq, cum[:-1]
    start = cum[:-1] + gap * np.arange(1, n + 1, dtype=np.intp)
    out = np.zeros(cum[-1] + gap * (n + 1), dtype=codes.dtype)
    out[np.repeat(start - cum[:-1], lens) + k] = seq
    return out, start


def _lanes(pats: list, texts: list) -> _Lanes:
    n = len(pats)
    pcodes, plen, poffs = _encode_codes(pats)
    tcodes, tlen, toffs = _encode_codes(texts)
    pcodes, tcodes, sigma = _compact_alphabet(pcodes, tcodes)
    W = np.maximum(_block_bucket(plen), 1)  # an empty pattern still takes a lane
    order = np.argsort(-(tlen + W), kind="stable")
    plen, tlen, W = plen[order], tlen[order], W[order]
    gap = int(W.max()) - 1 if n else 0
    pcodes, pstart = _reorder(pcodes, poffs, order)
    codes, tbase = _reorder(tcodes, toffs, order, gap)
    off = np.zeros(n + 1, dtype=np.intp)
    np.cumsum(W, out=off[1:])
    nl = int(off[-1])
    pair = np.repeat(np.arange(n, dtype=np.intp), W)
    word = np.arange(nl, dtype=np.intp) - off[pair]
    top = np.full(nl, np.uint64(1) << np.uint64(63), dtype=np.uint64)
    top[off[1:] - 1] = np.uint64(1) << ((plen - 1) % 64).astype(np.uint64)
    pm = _build_pm(pcodes, plen, pstart, off[:-1], nl, sigma)
    return _Lanes(
        order, plen, tlen, tlen + W - 1, off, word, pm.ravel(),
        np.arange(nl, dtype=np.intp) * sigma, codes, tbase[pair] - word, top,
        pcodes, pstart, tbase,
    )


def _active(end: np.ndarray, p: int, s: int) -> int:
    """Pairs still active at step s, from the p active at step s - 1."""
    while p and end[p - 1] <= s:
        p -= 1
    return p


def _from_lanes(L: _Lanes, vals: np.ndarray) -> np.ndarray:
    out = np.empty_like(vals)
    out[L.order] = vals
    return out


def myers_batch_block(pats: list, texts: list) -> np.ndarray:
    """Vectorized blockwise Myers/Hyyrö, scheduled along anti-diagonals
    over (pair, word) lanes (``_Lanes``), for patterns of any mix of word
    counts. Semantics follow the reference's hyrroe2003_block
    (/root/reference/src/distance/levenshtein.rs:769-1019) minus the
    Ukkonen band: the hp/hn horizontal carries chain low->high word; per
    text char the distance moves by the carry out of the pattern's last
    bit. Any Unicode codepoints."""
    L = _lanes(pats, texts)
    n, nl = len(L.plen), int(L.off[-1])
    # one word per pair: the carry-in is the constant left boundary
    wide = nl > n
    one = np.uint64(1)
    vp = np.full(nl, ~np.uint64(0), dtype=np.uint64)
    vn = np.zeros(nl, dtype=np.uint64)
    hpb = np.zeros(nl + 1, dtype=bool)  # hpb[i + 1]: lane i's carry-out
    hnb = np.zeros(nl + 1, dtype=bool)
    # left DP boundary: hp carry-in 1, hn carry-in 0 (on bools, c > l0
    # is c & ~l0)
    l0 = L.word == 0
    last = L.off[1:] - 1
    dist = L.plen.copy()
    p = n
    for s in range(int(L.end[0]) if n else 0):
        p = _active(L.end, p, s)
        a = int(L.off[p])
        vp_a, vn_a = vp[:a], vn[:a]
        pm_j = L.pm[L.pmrow[:a] + L.codes[L.tpos[:a] + s]]
        if wide:
            hp_c = hpb[:a] | l0[:a]
            hn_c = hnb[:a] > l0[:a]
            x = pm_j | hn_c
        else:
            hp_c, x = one, pm_j
        d0 = (((x & vp_a) + vp_a) ^ vp_a) | x | vn_a
        hp = vn_a | ~(d0 | vp_a)
        hn = d0 & vp_a
        hp_o = (hp & L.top[:a]) != 0
        hn_o = (hn & L.top[:a]) != 0
        at = last[:p] if wide else slice(0, a)
        dist[:p] += hp_o[at]
        dist[:p] -= hn_o[at]
        hp = (hp << one) | hp_c
        hn <<= one
        if wide:
            hn |= hn_c
            hpb[1 : a + 1] = hp_o
            hnb[1 : a + 1] = hn_o
        vp_a[:] = hn | ~(d0 | hp)
        vn_a[:] = hp & d0
    return _from_lanes(L, dist)


_BAND_SENTINEL = np.int64(1) << 40  # "> any cutoff" result marker


def myers_batch_block_banded(pats: list, texts: list, ks: np.ndarray) -> np.ndarray:
    """Blockwise Myers with the reference's Ukkonen band maintenance
    (/root/reference/src/distance/levenshtein.rs:769-1019): per pair only
    the words whose cells can still lie on a <= k path are advanced. The
    band's first word moves up monotonically; the last word shrinks and
    regrows with explicit re-initialization (vp=~0, score from the word
    below), and the cutoff tightens per row from the remaining-diagonal
    bound (the reference's score-hint logic).

    Cross-pair vectorized: the word loop runs over the union band of the
    chunk with per-pair membership masks, so a chunk may mix word counts:
    each pair's band stops at its own last word. ``ks`` is the per-pair distance
    cutoff; pairs whose distance exceeds it return ``_BAND_SENTINEL``
    (callers only compare against the cutoff). Patterns must be <= texts
    in length (caller convention).
    """
    n = len(pats)
    pcodes, plens, poffs = _encode_codes(pats)
    tcodes, tlens, toffs = _encode_codes(texts)
    pcodes, tcodes, sigma = _compact_alphabet(pcodes, tcodes)
    order = np.argsort(-tlens, kind="stable")
    inv = np.empty(n, dtype=np.intp)
    inv[order] = np.arange(n, dtype=np.intp)
    W = int((plens.max() + 63) >> 6) if n else 1
    rows = np.arange(n, dtype=np.intp)
    pm = _build_pm(pcodes, plens, poffs[:-1], rows * W, n * W, sigma)
    pm = pm.reshape(n, W, sigma)[order]
    pl = plens[order].astype(np.int64)
    tl = tlens[order].astype(np.int64)
    toffs_s = toffs[:-1][order]
    k = np.minimum(ks[order].astype(np.int64), np.maximum(pl, tl))
    last = np.uint64(1) << ((pl.astype(np.uint64) - np.uint64(1)) % np.uint64(64))
    last_w = ((pl - 1) >> 6).astype(np.intp)
    one = np.uint64(1)
    u0 = np.uint64(0)
    vp = np.full((n, W), ~u0, dtype=np.uint64)
    vn = np.zeros((n, W), dtype=np.uint64)
    # score at the last row of each word, column 0 state: D(i, 0) = i
    scores = np.minimum(
        (np.arange(1, W + 1, dtype=np.int64) * 64)[None, :], pl[:, None]
    )
    alive = k >= np.abs(pl - tl)
    dist = np.full(n, _BAND_SENTINEL, dtype=np.int64)
    fb = np.zeros(n, dtype=np.int64)
    lb = np.minimum(
        last_w.astype(np.int64),
        (np.minimum(k, (k + pl - tl) // 2) + 1 + 63) // 64 - 1,
    )
    lb = np.maximum(lb, 0)
    alive &= lb >= fb
    max_t = int(tl[0]) if n else 0
    active = n
    for j in range(max_t):
        while active > 0 and tl[active - 1] <= j:
            active -= 1
        a = slice(0, active)
        r = rows[a]
        live = alive[a]
        if not live.any():
            break
        cj = tcodes[toffs_s[a] + j]
        w_lo = int(fb[a][live].min())
        w_hi = int(lb[a][live].max())
        hp_c = np.ones(active, dtype=np.uint64)
        hn_c = np.zeros(active, dtype=np.uint64)
        # carries out of each pair's own last-band word (feed lb extension)
        lb_hp = np.zeros(active, dtype=np.uint64)
        lb_hn = np.zeros(active, dtype=np.uint64)
        for w in range(w_lo, w_hi + 1):
            m = live & (fb[a] <= w) & (w <= lb[a])
            if not m.any():
                continue
            # left DP boundary (+1 per row) enters at each pair's first word
            at_fb = m & (fb[a] == w)
            hp_c = np.where(at_fb, one, hp_c)
            hn_c = np.where(at_fb, u0, hn_c)
            vp_w = vp[r, w]
            vn_w = vn[r, w]
            pm_j = pm[r, w, cj]
            x = pm_j | hn_c
            d0 = (((x & vp_w) + vp_w) ^ vp_w) | x | vn_w
            hp = vn_w | ~(d0 | vp_w)
            hn = d0 & vp_w
            is_last = last_w[a] == w
            hp_out = np.where(is_last, (hp & last[a]) != 0, hp >> np.uint64(63))
            hn_out = np.where(is_last, (hn & last[a]) != 0, hn >> np.uint64(63))
            hp_out = hp_out.astype(np.uint64)
            hn_out = hn_out.astype(np.uint64)
            scores[r, w] = np.where(
                m,
                scores[r, w] + hp_out.astype(np.int64) - hn_out.astype(np.int64),
                scores[r, w],
            )
            hps = (hp << one) | hp_c
            hns = (hn << one) | hn_c
            vp[r, w] = np.where(m, hns | ~(d0 | hps), vp_w)
            vn[r, w] = np.where(m, hps & d0, vn_w)
            at_lb = m & (lb[a] == w)
            lb_hp = np.where(at_lb, hp_out, lb_hp)
            lb_hn = np.where(at_lb, hn_out, lb_hn)
            hp_c = np.where(m, hp_out, hp_c)
            hn_c = np.where(m, hn_out, hn_c)
        lbi = np.minimum(lb[a], last_w[a]).astype(np.intp)
        s_lb = scores[r, lbi]
        # tighten the cutoff: best still-achievable final score from here
        k_a = np.minimum(
            k[a],
            s_lb
            + np.maximum(tl[a] - j - 1, pl[a] - ((1 + lb[a]) * 64 - 1) - 1),
        )
        k[a] = np.where(live, k_a, k[a])
        row_num = np.minimum((lb[a] + 1) * 64, pl[a]) - 1
        # regrow the band's last word where the edge re-enters it
        ext = (
            live
            & (lb[a] < last_w[a])
            & (row_num <= k[a] + 128 + j + pl[a] - s_lb - 2 - tl[a])
        )
        if ext.any():
            nlb = (lb[a] + 1).astype(np.intp)
            er = r[ext]
            en = nlb[ext]
            vp[er, en] = ~u0
            vn[er, en] = u0
            chars = np.where(
                en == last_w[a][ext], (pl[a][ext] - 1) % 64 + 1, 64
            ).astype(np.int64)
            carry_in_p = lb_hp[ext]
            carry_in_n = lb_hn[ext]
            base = (
                scores[er, lb[a][ext].astype(np.intp)]
                + chars
                - carry_in_p.astype(np.int64)
                + carry_in_n.astype(np.int64)
            )
            # advance the re-entered word once for this column
            vp_w = vp[er, en]
            vn_w = vn[er, en]
            pm_j = pm[er, en, cj[ext]]
            x = pm_j | carry_in_n
            d0 = (((x & vp_w) + vp_w) ^ vp_w) | x | vn_w
            hp = vn_w | ~(d0 | vp_w)
            hn = d0 & vp_w
            is_last = last_w[a][ext] == en
            hp_out = np.where(
                is_last, (hp & last[a][ext]) != 0, hp >> np.uint64(63)
            ).astype(np.uint64)
            hn_out = np.where(
                is_last, (hn & last[a][ext]) != 0, hn >> np.uint64(63)
            ).astype(np.uint64)
            scores[er, en] = (
                base + hp_out.astype(np.int64) - hn_out.astype(np.int64)
            )
            hps = (hp << one) | carry_in_p
            hns = (hn << one) | carry_in_n
            vp[er, en] = hns | ~(d0 | hps)
            vn[er, en] = hps & d0
            lb[a] = np.where(ext, lb[a] + 1, lb[a])
        # shrink last word while its cells are provably outside the band
        while True:
            lbi = np.maximum(np.minimum(lb[a], last_w[a]), 0).astype(np.intp)
            s_lb = scores[r, lbi]
            row_num = np.minimum((lb[a] + 1) * 64, pl[a]) - 1
            in1 = s_lb < k[a] + 64
            in2 = row_num <= k[a] + 128 + j + pl[a] + 1 - s_lb - 2 - tl[a]
            shrink = live & (lb[a] >= fb[a]) & ~(in1 & in2)
            if not shrink.any():
                break
            lb[a] = np.where(shrink, lb[a] - 1, lb[a])
        # advance first word while its cells are provably outside the band
        while True:
            fbi = np.minimum(fb[a], last_w[a]).astype(np.intp)
            s_fb = scores[r, fbi]
            row_num = np.minimum((fb[a] + 1) * 64, pl[a]) - 1
            in1 = s_fb < k[a] + 64
            in2 = row_num >= s_fb + pl[a] + j - k[a] - tl[a]
            adv = live & (fb[a] <= lb[a]) & ~(in1 & in2)
            if not adv.any():
                break
            fb[a] = np.where(adv, fb[a] + 1, fb[a])
        dead = live & (lb[a] < fb[a])
        if dead.any():
            alive[a] = np.where(dead, False, alive[a])
    ok = alive & (fb <= last_w) & (last_w <= lb)
    dist[ok] = scores[rows[ok], last_w[ok]]
    dist = np.where(ok & (dist <= np.minimum(ks[order], np.maximum(pl, tl))),
                    dist, _BAND_SENTINEL)
    return dist[inv]


def lcs_batch_block(pats: list, texts: list) -> np.ndarray:
    """Vectorized blockwise Hyyrö LCS over wavefront lanes (``_Lanes``;
    reference lcs_blockwise semantics, lcs_seq.rs:267-341, no band): an
    S-vector per word with the add-with-carry chained low->high word.
    Bits above the pattern stay set, so the LCS grows by exactly the
    carry out of each pair's last word."""
    L = _lanes(pats, texts)
    n, nl = len(L.plen), int(L.off[-1])
    wide = nl > n
    S = np.full(nl, ~np.uint64(0), dtype=np.uint64)
    cb = np.zeros(nl + 1, dtype=bool)  # cb[i + 1]: lane i's carry-out
    l0 = L.word == 0  # carry-in 0 at each pair's first word
    last = L.off[1:] - 1
    sim = np.zeros(n, dtype=np.int64)
    p = n
    for s in range(int(L.end[0]) if n else 0):
        p = _active(L.end, p, s)
        a = int(L.off[p])
        S_a = S[:a]
        u = S_a & L.pm[L.pmrow[:a] + L.codes[L.tpos[:a] + s]]
        x = S_a + u
        c = x < S_a
        if wide:
            c_in = cb[:a] > l0[:a]
            x += c_in
            c |= (x == 0) & c_in
            cb[1 : a + 1] = c
        S_a[:] = x | (S_a - u)
        sim[:p] += c[last[:p] if wide else slice(0, a)]
    return _from_lanes(L, sim)


def osa_batch_block(pats: list, texts: list) -> np.ndarray:
    """Vectorized blockwise OSA over wavefront lanes (``_Lanes``; Hyyrö
    bit-parallel with transposition carry, semantics per /root/reference/
    src/distance/osa.rs:156-227). Per-lane state adds the previous char's
    d0 and pm; the transposition term pulls bit 63 of the word below's
    (~d0 at j-1) & (pm at j), which that lane computed one step back, as
    a third carry beside hp and hn."""
    L = _lanes(pats, texts)
    n, nl = len(L.plen), int(L.off[-1])
    wide = nl > n
    one = np.uint64(1)
    s63 = np.uint64(63)
    vp = np.full(nl, ~np.uint64(0), dtype=np.uint64)
    vn = np.zeros(nl, dtype=np.uint64)
    d0s = np.zeros(nl, dtype=np.uint64)  # previous char's d0 per lane
    pms = np.zeros(nl, dtype=np.uint64)  # previous char's pm per lane
    hpb = np.zeros(nl + 1, dtype=bool)  # hpb[i + 1]: lane i's carry-out
    hnb = np.zeros(nl + 1, dtype=bool)
    trb = np.zeros(nl + 1, dtype=bool)
    l0 = L.word == 0
    last = L.off[1:] - 1
    dist = L.plen.copy()
    p = n
    for s in range(int(L.end[0]) if n else 0):
        p = _active(L.end, p, s)
        a = int(L.off[p])
        vp_a, vn_a = vp[:a], vn[:a]
        pm_j = L.pm[L.pmrow[:a] + L.codes[L.tpos[:a] + s]]
        t = ~d0s[:a] & pm_j
        tr = t << one
        if wide:
            hp_c = hpb[:a] | l0[:a]
            hn_c = hnb[:a] > l0[:a]
            # unmasked at lane 0: a carry there meets pms bit 0, which
            # means vn bit 0 is already set, so d0 is unchanged
            tr |= trb[:a]
            x = pm_j | hn_c
        else:
            hp_c, x = one, pm_j
        tr &= pms[:a]
        d0 = (((x & vp_a) + vp_a) ^ vp_a) | x | vn_a | tr
        hp = vn_a | ~(d0 | vp_a)
        hn = d0 & vp_a
        hp_o = (hp & L.top[:a]) != 0
        hn_o = (hn & L.top[:a]) != 0
        at = last[:p] if wide else slice(0, a)
        dist[:p] += hp_o[at]
        dist[:p] -= hn_o[at]
        hp = (hp << one) | hp_c
        hn <<= one
        if wide:
            hn |= hn_c
            hpb[1 : a + 1] = hp_o
            hnb[1 : a + 1] = hn_o
            trb[1 : a + 1] = t >> s63
        vp_a[:] = hn | ~(d0 | hp)
        vn_a[:] = hp & d0
        d0s[:a] = d0
        pms[:a] = pm_j
    return _from_lanes(L, dist)


# _LOW[i]: the low i bits set, i = 0..64
_LOW = np.array([(1 << i) - 1 for i in range(65)], dtype=np.uint64)


def jaro_batch_block(pats: list, texts: list, k=None) -> np.ndarray:
    """Vectorized Jaro similarity over wavefront lanes (``_Lanes``), any
    codepoints. Two phases mirroring the reference's bit-parallel flagging
    (/root/reference/src/distance/jaro.rs:147-190,286-420):

    1. per step, each lane masks its word of the match window
       [j-bound, j+bound] and flags its lowest unflagged PM bit unless a
       lower word already took text char j (the carry); the text char is
       marked matched;
    2. walk flagged pattern bits in order against the matched text chars
       to count transpositions.

    ``k``: optional similarity cutoff (scalar float, shared across the
    chunk) — the reference's in-kernel phase-2 early exit
    (jaro.rs:300-320 common-character bound): every 32 steps, pairs
    whose best still-achievable similarity (m_max = matches so far + the
    smaller of text chars not yet seen by every lane / unmatched pattern
    chars; third Jaro term bounded by 1) falls below ``k`` are dropped
    from the scan and return the -1.0 sentinel (callers only compare
    against the cutoff). Their lanes are compacted away when enough pairs
    die, so survivors keep full vector width.
    """
    L = _lanes(pats, texts)
    n, nl = len(L.plen), int(L.off[-1])
    wide = nl > n
    one = np.uint64(1)
    pl, tl, end, off = L.plen, L.tlen, L.end, L.off
    W = np.diff(off)
    pair = np.repeat(np.arange(n, dtype=np.intp), W)
    # window [j-bound, j+bound] in lane-local bits: [s - lo_c, s + hi_c)
    bound = np.maximum(np.maximum(pl, tl) // 2 - 1, 0)[pair]
    lo_c = bound + 65 * L.word
    hi_c = bound + 1 - 65 * L.word
    pbase = L.pstart[pair] + 64 * L.word  # pattern index of each lane's bit 0
    l0 = L.word == 0
    pmrow, tpos = L.pmrow, L.tpos
    orig = np.arange(n, dtype=np.intp)  # current pair -> lane-layout pair
    flagged = np.zeros(nl, dtype=np.uint64)
    tb = np.zeros(nl + 1, dtype=bool)  # tb[i + 1]: char taken at lane <= i
    matched = np.zeros(len(L.codes), dtype=bool)
    p = n
    for s in range(int(end[0]) if n else 0):
        p = _active(end, p, s)
        a = int(off[p])
        idx = tpos[:a] + s
        win = _LOW[np.clip(s + hi_c[:a], 0, 64)] ^ _LOW[np.clip(s - lo_c[:a], 0, 64)]
        cand = L.pm[pmrow[:a] + L.codes[idx]] & win & ~flagged[:a]
        take = cand != 0
        if wide:
            t_in = tb[:a] > l0[:a]
            tb[1 : a + 1] = take | t_in
            take &= ~t_in
        flagged[:a] |= (cand & (~cand + one)) * take
        matched[idx[take]] = True
        if k is not None and p and (s & 31) == 31:
            cnt = np.add.reduceat(_popcount_u64(flagged[:a]), off[:p]).astype(np.int64)
            rem = tl[:p] - np.maximum(s + 2 - W[:p], 0)
            m_max = cnt + np.minimum(pl[:p] - cnt, rem)
            ub = (m_max / pl[:p] + m_max / tl[:p] + 1.0) / 3.0
            dead = ub < k - 1e-9
            ndead = int(dead.sum())
            # compact only when enough died to repay the gather cost
            if ndead and (ndead >= 64 or ndead * 4 >= p):
                keep = np.ones(len(orig), dtype=bool)
                keep[:p][dead] = False
                kl = np.repeat(keep, W)
                orig, pl, tl, end, W = orig[keep], pl[keep], tl[keep], end[keep], W[keep]
                off = np.zeros(len(orig) + 1, dtype=np.intp)
                np.cumsum(W, out=off[1:])
                lo_c, hi_c, pbase, l0 = lo_c[kl], hi_c[kl], pbase[kl], l0[kl]
                pmrow, tpos, flagged = pmrow[kl], tpos[kl], flagged[kl]
                tb = np.concatenate((tb[:1], tb[1:][kl]))
                p -= ndead
    # phase 2: transpositions, fully vectorized — flagged bits in lane
    # order are each pair's pattern positions in order, matched text
    # positions in codes order its text positions in order
    cur = len(orig)
    cnt = np.zeros(cur, dtype=np.int64)
    t_cnt = np.zeros(cur, dtype=np.int64)
    if cur:
        cnt = np.add.reduceat(_popcount_u64(flagged), off[:-1]).astype(np.int64)
        fb = np.nonzero(np.unpackbits(flagged.view(np.uint8), bitorder="little"))[0]
        ti = np.nonzero(matched)[0]
        if cur < n:  # drop the matches of dropped pairs
            live = np.zeros(n, dtype=bool)
            live[orig] = True
            ti = ti[live[np.searchsorted(L.tbase, ti, side="right") - 1]]
        lane = fb >> 6
        neq = L.pcodes[pbase[lane] + (fb & 63)] != L.codes[ti]
        t_cnt = np.bincount(
            np.repeat(np.arange(cur), W)[lane], weights=neq, minlength=cur
        ).astype(np.int64)
    m = cnt.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        sim = np.where(
            cnt > 0,
            (m / pl + m / tl + (m - (t_cnt // 2)) / np.where(cnt > 0, m, 1.0)) / 3.0,
            0.0,
        )
    result = np.full(n, -1.0, dtype=np.float64)
    result[L.order[orig]] = sim
    return result


def _pad_codes(strs: list, sentinel: int) -> tuple[np.ndarray, np.ndarray]:
    """(codes padded to max len with sentinel, lengths) as uint32/int64.
    One joined blob + one encode per batch (UTF-32 is context-free, so
    encode(join) == concat(encodes)) — the per-string encode loop this
    replaces was ~45% of jaro_winkler_batch wall on short-name batches."""
    n = len(strs)
    lens = np.fromiter((len(s) for s in strs), dtype=np.int64, count=n)
    L = int(lens.max()) if n else 0
    out = np.full((n, L), sentinel, dtype=np.uint32)
    if L:
        codes = np.frombuffer("".join(strs).encode("utf-32-le"), dtype=np.uint32)
        offs = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=offs[1:])
        rows = np.repeat(np.arange(n, dtype=np.intp), lens)
        cols = np.arange(len(codes), dtype=np.intp) - np.repeat(offs, lens)
        out[rows, cols] = codes
    return out, lens


def damerau_batch_np(pats: list, texts: list, k=None) -> np.ndarray:
    """Unrestricted Damerau-Levenshtein, vectorized across pairs AND
    columns (Lowrance-Wagner with per-(pair, col) last-match tracking;
    same recurrence as damerau.damerau_distance_np, which is the tested
    per-pair oracle). Keeps the full DP cube per chunk for the
    transposition gather — callers chunk to bound memory.

    ``k``: optional shared distance cutoff for the chunk. Restricts each
    row to the |i-j| <= k diagonal band (the reference's cutoff banding,
    damerau_levenshtein.rs:111-168): any path leaving the band — including
    Lowrance-Wagner transposition jumps bridging it — provably costs > k,
    so in-band results <= k stay exact; pairs above k return some value
    > k (band-edge inf contamination), which callers only compare against
    the cutoff."""
    n = len(pats)
    A, las = _pad_codes(pats, 0xFFFFFFFE)
    B, lbs = _pad_codes(texts, 0xFFFFFFFF)
    order = np.argsort(-las, kind="stable")
    inv = np.empty(n, dtype=np.intp)
    inv[order] = np.arange(n, dtype=np.intp)
    A, B = A[order], B[order]
    las_s, lbs_s = las[order], lbs[order]
    L1, L2 = A.shape[1], B.shape[1]
    # int16 cube while the transposition term inf + i + j is provably
    # < 2^15 (i.e. 2*(L1+L2) small enough); int32 beyond — memory is
    # chunk-bounded by the caller either way
    dt = np.int16 if L1 + L2 <= 16000 else np.int32
    inf = dt(L1 + L2 + 1)
    band = k is not None and 2 * int(k) + 2 < L2
    K = int(k) if band else L2
    m = np.full((n, L1 + 2, L2 + 2), inf, dtype=dt)
    m[:, 1, 1:] = np.arange(L2 + 1, dtype=dt)
    m[:, 1:, 1] = np.arange(L1 + 1, dtype=dt)
    j_idx = np.arange(1, L2 + 1, dtype=dt)
    lastA_row = np.zeros((n, L2), dtype=np.int64)  # last i with A[i-1]==B[j]
    rows = np.arange(n, dtype=np.intp)
    active = n
    for i in range(1, L1 + 1):
        while active > 0 and las_s[active - 1] < i:
            active -= 1
        a = slice(0, active)
        r = rows[:active]
        lo = max(1, i - K)
        hi = min(L2, i + K)
        sl = slice(lo - 1, hi)
        jb = j_idx[sl]
        eq = B[a, sl] == A[a, i - 1 : i]
        cost = (~eq).astype(dt)
        match_pos = np.where(eq, jb, 0)
        run = np.maximum.accumulate(match_pos, axis=1)
        l_vec = np.zeros((active, hi - lo + 1), dtype=np.int64)
        l_vec[:, 1:] = run[:, :-1]
        k_vec = lastA_row[:active, sl]
        prev = m[a, i]
        diag = prev[:, lo : hi + 1] + cost
        up = prev[:, lo + 1 : hi + 2] + 1
        trans = (
            m[r[:, None], k_vec, l_vec]
            + (i - k_vec - 1).astype(dt)
            + 1
            + (jb[None, :] - l_vec - 1).astype(dt)
        )
        cand = np.minimum(np.minimum(diag, up), trans)
        t = np.minimum.accumulate(
            np.minimum(cand - jb[None, :], dt(i)), axis=1
        )
        m[a, i + 1, lo + 1 : hi + 2] = np.minimum(cand, t + jb[None, :])
        lastA_row[:active, sl] = np.where(eq, i, lastA_row[:active, sl])
    out = m[rows, las_s + 1, lbs_s + 1].astype(np.int64)
    return out[inv]


_DL_CUBE_BUDGET = 24 * 1024 * 1024  # bytes; int16 cube sized to stay near L3

# Wavefront blockwise path up to 64*_BLOCK_MAX_WORDS-char patterns; above
# the cap, pairs route to the per-pair CPython big-int kernels. A W-word
# big-int op is one interpreter op running an O(W) C limb loop; the
# wavefront kernel spends a fixed number of array ops per step on all
# lanes, so both cost O(W) per text char and neither overtakes the other
# at large W. Measured (BENCH.md §12, Myers, 5%-substituted random text,
# one lane budget of pairs per W, best-of-2), block/big-int wall: 0.20 at
# W=8, 0.44 at W=24, 0.66 at W=63, 0.72 at W=125, 0.74 at W=250 (0.44,
# 0.71-0.85, 0.64-0.72, 0.77-0.81 under 4 concurrent processes). The cap
# sits at the top of the sweep, where the block path still wins.
_BLOCK_MAX_WORDS = 250
# Lane budget of one blockwise chunk (one lane per pattern word): sets
# the NumPy vector width of every step and bounds the (lanes, sigma) u64
# PM gather table. Swept on one score_long Arrow batch (4,857 ~300-char
# pairs, ~24k lanes) under 4 concurrent processes: 2048 lanes is 10-40%
# slower than 4096-16384, which are within noise of each other on the
# wavefront kernels; the banded kernel gains from wider chunks.
_BLOCK_CHUNK = 8192


def _block_bucket(plen):
    """Pattern word count W = ceil(len / 64): the lanes a pattern takes in
    the wavefront kernels, and the length class of the routing gates."""
    return (plen + 63) >> 6


class _Cores(NamedTuple):
    """A batch after the shared routing pass (``_route``).

    Per pair: ``plen``/``tlen`` are the core lengths of the shorter and
    longer side, ``affix`` the stripped common prefix + suffix length (an
    equal pair is all affix, with an empty core). Per non-empty core: its
    batch row, the core strings (object arrays, shorter side first) and
    the pattern's word count."""

    plen: np.ndarray
    tlen: np.ndarray
    affix: np.ndarray
    rows: np.ndarray
    pats: np.ndarray
    texts: np.ndarray
    words: np.ndarray


def _affix_strip_pair(a: str, b: str) -> tuple[str, str]:
    pfx = common_prefix_len(a, b)
    a, b = a[pfx:], b[pfx:]
    sfx = common_suffix_len(a, b)
    if sfx:
        a, b = a[:-sfx], b[:-sfx]
    return a, b


def _route(a_arr, b_arr, strip: bool = True) -> _Cores:
    """The per-pair routing pass shared by the bit-parallel families:
    equal-pair short-cut, common-affix strip (``strip``; Jaro is not
    affix-invariant), and a swap so the pattern is the shorter side.

    When EVERY pair is non-empty and <= 64 chars (the record-linkage hot
    shape) the per-pair loop is skipped — it measured ~40% of wall at
    ~20-char names (BENCH.md §2) — and the whole batch becomes one W=1
    group: affix stripping and the equal-pair short-cut are optimizations
    the kernels don't need for correctness."""
    n = len(a_arr)
    la = np.fromiter(map(len, a_arr), dtype=np.int64, count=n)
    lb = np.fromiter(map(len, b_arr), dtype=np.int64, count=n)
    if n and min(la.min(), lb.min()) > 0 and max(la.max(), lb.max()) <= 64:
        swap = la > lb
        return _Cores(
            np.minimum(la, lb),
            np.maximum(la, lb),
            np.zeros(n, dtype=np.int64),
            np.arange(n, dtype=np.intp),
            np.where(swap, b_arr, a_arr),
            np.where(swap, a_arr, b_arr),
            np.ones(n, dtype=np.int64),
        )
    rows, ps, ts = [], [], []
    for i in range(n):
        a, b = a_arr[i], b_arr[i]
        if a == b:
            continue
        if strip:
            a, b = _affix_strip_pair(a, b)
        if len(a) > len(b):
            a, b = b, a
        rows.append(i)
        ps.append(a)
        ts.append(b)
    rows = np.asarray(rows, dtype=np.intp)
    plen = np.zeros(n, dtype=np.int64)
    tlen = np.zeros(n, dtype=np.int64)
    plen[rows] = np.fromiter(map(len, ps), dtype=np.int64, count=len(ps))
    tlen[rows] = np.fromiter(map(len, ts), dtype=np.int64, count=len(ts))
    core = plen[rows] > 0
    rows = rows[core]
    return _Cores(
        plen,
        tlen,
        (la + lb - plen - tlen) >> 1,
        rows,
        np.array(ps, dtype=object)[core],
        np.array(ts, dtype=object)[core],
        _block_bucket(plen[rows]),
    )


def _score(c: _Cores, out, kernel, scalar=None, sel=None, extra=(), **kw) -> None:
    """Score the cores ``sel`` (default: all) into ``out`` at their batch
    rows. Patterns of more than _BLOCK_MAX_WORDS words run the big-int
    ``scalar`` kernel with a per-batch pattern cache. The rest, every
    word count together, are sorted by the step their wavefront ends
    (text length + words, descending: the kernels' own order, so a
    chunk's active lanes stay a prefix) and run the blockwise ``kernel``
    in chunks of at most _BLOCK_CHUNK lanes (one lane per pattern word),
    each chunk getting its slice of the ``extra`` per-core arrays
    (aligned with ``sel``) and ``kw``."""
    if sel is None:
        sel = np.arange(len(c.rows), dtype=np.intp)
    big = c.words[sel] > _BLOCK_MAX_WORDS
    pm_cache: dict = {}
    for r, p, t in zip(c.rows[sel[big]], c.pats[sel[big]], c.texts[sel[big]]):
        pm = pm_cache.get(p)
        if pm is None:
            pm = pm_cache[p] = pm_vector(p)
        out[r] = scalar(p, t, pm)
    sel, extra = sel[~big], [x[~big] for x in extra]
    words = c.words[sel]
    order = np.argsort(-(c.tlen[c.rows[sel]] + words), kind="stable")
    sel, extra = sel[order], [x[order] for x in extra]
    lanes = np.cumsum(words[order])
    lo = 0
    while lo < len(sel):
        used = lanes[lo - 1] if lo else 0
        hi = max(int(np.searchsorted(lanes, used + _BLOCK_CHUNK, "right")), lo + 1)
        q = sel[lo:hi]
        out[c.rows[q]] = kernel(
            c.pats[q].tolist(),
            c.texts[q].tolist(),
            *(x[lo:hi] for x in extra),
            **kw,
        )
        lo = hi


def _banded_lev_pays(pat_len, W, k, scale: float = 1.0):
    """Per-pair mask: route to myers_batch_block_banded only where the
    band is narrow enough to beat the full wavefront kernel. The banded
    kernel still loops over the band's words per text char with per-row
    bookkeeping, so it wins only when most pairs leave the band early.
    Measured against the wavefront kernel (BENCH.md §7, one lane budget
    of unrelated same-length pairs, best-of-2): banded wins below a band
    fraction k/len of ~0.2-0.35 at every W from 3 to 24 (0.19-0.59x at
    0.1); on near-duplicates that stay inside the band it loses at every
    fraction (1.9-5.6x). The 0.15 threshold sits under every measured
    breakeven. Above 24 words near-duplicates lose 1.5-9x (W=32-128)
    while unrelated pairs win less as W grows (parity at W=128, band
    fraction 0.15), so the band stays off there. ``scale`` < 1 tightens the threshold for callers that
    additionally bet on pruning (the indel prefilter must beat
    prune_frac * LCS cost, not just the full kernel)."""
    return (W >= 4) & (W <= 24) & (k < 64 * (W - 1)) & (k <= 0.15 * scale * pat_len)


def levenshtein_batch(a_arr, b_arr, k=None, hint=None) -> np.ndarray:
    """Uniform Levenshtein distances for paired object arrays of str.
    Routing: the shared pass (``_route``: equal pairs, affix strip,
    shorter side as pattern) and runner (``_score``: the wavefront
    blockwise Myers kernel up to _BLOCK_MAX_WORDS words, every word count
    in one chunk; the CPython big-int Myers kernel with a per-batch
    pattern cache above, past the measured sweep, BENCH.md §12). On top
    of the shared pass, three selectors take pairs
    out first: mbleven for cutoffs <= 3 on pairs longer than one word,
    the ``hint`` band schedule, and the Ukkonen-banded kernel when a
    cutoff ``k`` is supplied and the band is narrow enough to pay.
    Long-document corpora should still prefer set-based ops
    (ngram_jaccard/MinHash-LSH) over pairwise edit distance at scale.

    ``k``: optional int64 array of per-pair distance cutoffs. Pairs whose
    distance exceeds their cutoff MAY return a large sentinel instead of
    the exact distance — callers must only compare those against the
    cutoff (the Column API's keep-mask does exactly that).

    ``hint``: optional int64 array of EXPECTED per-pair distances
    (reference score_hint, levenshtein.rs:1069-1088,1176-1209): blockwise
    pairs start at band = hint; a result <= band is exact and final, a
    result above it doubles the band and retries, capped at ``k`` (where
    the regular sentinel contract takes over) or at the max possible
    distance when no cutoff is given — so results are IDENTICAL to the
    hint-less path, only the band schedule changes."""
    c = _route(a_arr, b_arr)
    out = c.tlen.copy()  # an empty core is all insertions of the other
    pl, tl, W = c.plen[c.rows], c.tlen[c.rows], c.words
    rest = np.ones(len(c.rows), dtype=bool)  # cores no selector took
    if k is not None:
        kk = np.asarray(k, dtype=np.int64)[c.rows]
        # tiny bound on a long pair: mbleven enumeration is O(models*len)
        # vs O(ceil(len/64)*len) for any DP (reference routes cutoff < 4
        # here too, levenshtein.rs:1142-1147)
        mb = (kk <= 3) & (tl > 64)
        for j in np.nonzero(mb)[0]:
            kb = int(kk[j])
            if kb < 0 or tl[j] - pl[j] > kb:
                out[c.rows[j]] = max(kb, 0) + 1
            else:
                out[c.rows[j]] = _mbleven(c.pats[j], c.texts[j], kb)
        rest &= ~mb
    if hint is not None:
        # hint-first banding: start at the (narrower) expected band,
        # verify, double on failure. Gated at W >= 14, where it beat the
        # per-word-count kernels 1.3-1.45x; against the wavefront kernel
        # it measured 1.8-2.5x slower with accurate hints at every W from
        # 4 to 24 (BENCH.md §7)
        h = np.asarray(hint, dtype=np.int64)[c.rows]
        cap = kk if k is not None else tl
        hs = rest & (W >= 14) & (h >= 4) & (h < cap)
        hs &= _banded_lev_pays(pl, W, h)
        rest &= ~hs
        live = np.nonzero(hs)[0]
        band, cap = h[live], cap[live]
        while len(live):
            _score(c, out, myers_batch_block_banded, sel=live, extra=(band,))
            # exact once the result fits the band; at band >= cap the
            # regular contract applies (exact, or sentinel > cap when a
            # cutoff cap is set — callers only compare those against it)
            done = (out[c.rows[live]] <= band) | (band >= cap)
            live, band, cap = live[~done], band[~done], cap[~done]
            band = np.minimum(band * 2, cap)
    if k is not None:
        # banded pays off once whole words fall outside the |i-j|<=k
        # diagonal band AND the band is narrow enough to amortize the
        # per-row band bookkeeping (affix stripping already happened, so
        # k is usually small relative to the remaining core)
        bs = rest & _banded_lev_pays(pl, W, kk)
        sel = np.nonzero(bs)[0]
        _score(c, out, myers_batch_block_banded, sel=sel, extra=(kk[sel],))
        rest &= ~bs
    _score(c, out, myers_batch_block, myers_distance, sel=np.nonzero(rest)[0])
    return out


def lcs_similarity_batch(a_arr, b_arr) -> np.ndarray:
    """LCS lengths for paired object arrays of str: the common affix plus
    the LCS of the cores."""
    c = _route(a_arr, b_arr)
    out = np.zeros(len(a_arr), dtype=np.int64)
    _score(c, out, lcs_batch_block, lcs_length)
    return out + c.affix


def indel_batch(a_arr, b_arr, k=None) -> np.ndarray:
    """Indel distances. ``k``: optional per-pair distance bounds; results
    above a pair's bound MAY be a sentinel instead of the exact distance
    — callers only compare those against the bound. Bounded routing:

    - bound <= 4 on long pairs: {delete, insert} mbleven enumeration
      (reference lcs_seq.rs:113-197 semantics);
    - otherwise, pairs whose shorter side is longer than one word are
      prefiltered by the Ukkonen-banded Myers kernel at the same bound:
      levenshtein <= indel (a substitution costs 1 vs 2), so lev > k
      proves indel > k and only survivors pay the full-width LCS kernel.
    """
    n = len(a_arr)
    la = np.fromiter(map(len, a_arr), dtype=np.int64, count=n)
    lb = np.fromiter(map(len, b_arr), dtype=np.int64, count=n)
    if k is None or not n:
        return la + lb - 2 * lcs_similarity_batch(a_arr, b_arr)
    from .lcs_indel import bounded_indel_distance

    kv = np.asarray(k, dtype=np.int64)
    done = (kv <= 4) & (la + lb > 128)
    out = np.empty(n, dtype=np.int64)
    for i in np.nonzero(done)[0]:
        out[i] = bounded_indel_distance(a_arr[i], b_arr[i], int(kv[i]))
    # banded-lev prefilter — only where the band is narrow enough that
    # the banded kernel costs well under the LCS it may save (scale=0.5
    # tightens the _banded_lev_pays thresholds: the prefilter is a bet on
    # pruning, and at wide bands it measured 3x SLOWER than just
    # computing the full LCS on the sf0.1 bench mix)
    pl = np.minimum(la, lb)
    wide = ~done & (pl > 64) & _banded_lev_pays(pl, _block_bucket(pl), kv, 0.5)
    wi = np.nonzero(wide)[0]
    if len(wi):
        pruned = wi[levenshtein_batch(a_arr[wi], b_arr[wi], k=kv[wi]) > kv[wi]]
        out[pruned] = kv[pruned] + 1
        done[pruned] = True
    li = np.nonzero(~done)[0]
    if len(li):
        out[li] = la[li] + lb[li] - 2 * lcs_similarity_batch(a_arr[li], b_arr[li])
    return out


def osa_batch(a_arr, b_arr) -> np.ndarray:
    c = _route(a_arr, b_arr)
    out = c.tlen.copy()  # an empty core is all insertions of the other
    _score(c, out, osa_batch_block, _osa.osa_distance_kernel)
    return out


def damerau_batch(a_arr, b_arr, k=None) -> np.ndarray:
    """``k``: optional per-pair int64 distance cutoffs — chunks run the
    banded DP with the chunk's max cutoff (exact for results <= each
    pair's own cutoff; callers only compare over-cutoff values)."""
    n = len(a_arr)
    out = np.zeros(n, dtype=np.int64)
    vec_idx: list = []
    vec_p: list = []
    vec_t: list = []
    for i in range(n):
        a, b = a_arr[i], b_arr[i]
        if a == b:
            continue
        sa, sb = _damerau.remove_common_affix(a, b)
        if not sa or not sb:
            out[i] = max(len(sa), len(sb))
            continue
        if len(sa) > len(sb):
            sa, sb = sb, sa
        if len(sa) * len(sb) <= 64:
            out[i] = _damerau.damerau_distance_py(sa, sb)
        else:
            vec_idx.append(i)
            vec_p.append(sa)
            vec_t.append(sb)
    if vec_idx:
        # sort by pattern len desc and chunk so the per-chunk DP cube
        # (n, L1+2, L2+2) int32 stays under budget
        order = sorted(range(len(vec_idx)), key=lambda q: -len(vec_p[q]))
        lo = 0
        while lo < len(order):
            L1 = len(vec_p[order[lo]]) + 2
            L2 = max(len(vec_t[order[q]]) for q in range(lo, len(order))) + 2
            itemsize = 2 if L1 + L2 <= 16000 else 4
            step = max(8, _DL_CUBE_BUDGET // (L1 * L2 * itemsize))
            sel = order[lo : lo + step]
            ps = [vec_p[q] for q in sel]
            ts = [vec_t[q] for q in sel]
            kc = (
                int(max(k[vec_idx[q]] for q in sel)) if k is not None else None
            )
            res = damerau_batch_np(ps, ts, k=kc)
            for q, v in zip(sel, res):
                out[vec_idx[q]] = v
            lo += step
    return out


def jaro_batch(a_arr, b_arr, k=None) -> np.ndarray:
    """``k``: optional similarity cutoff (scalar float). Pairs provably
    below it MAY return the -1.0 sentinel instead of the exact
    similarity — callers only compare those against the cutoff."""
    c = _route(a_arr, b_arr, strip=False)
    # an empty core: 1.0 for an equal pair (incl. both empty, reference
    # semantics), 0.0 against a non-empty side
    out = (c.tlen == 0).astype(np.float64)
    _score(c, out, jaro_batch_block, _jaro.jaro_similarity, k=k)
    return out


def jaro_winkler_batch(
    a_arr, b_arr, prefix_weight: float = 0.1, k=None
) -> np.ndarray:
    """Jaro + Winkler prefix boost (jaro_winkler.rs:78-98): applied only
    when jaro > 0.7, prefix capped at 4, result capped at 1.0.

    ``k``: optional jaro-winkler similarity cutoff. Translated to the
    conservative jaro-level bound jw <= jaro + 4*pw*(1-jaro) (prefix <= 4,
    jaro_winkler.rs:85), so pairs the kernel drops (sentinel -1.0, no
    boost applied) are provably below ``k``."""
    jk = None
    if k is not None:
        denom = 1.0 - 4.0 * prefix_weight
        if denom > 0:
            jb = (k - 4.0 * prefix_weight) / denom
            if jb > 0.0:
                jk = jb
    out = jaro_batch(a_arr, b_arr, k=jk)
    boost = np.nonzero(out > 0.7)[0]
    if len(boost):
        # vectorized common-prefix length over the first 4 chars: pad with
        # DISTINCT sentinels so length mismatches break the cumprod run
        A, _ = _pad_codes([a_arr[i][:4] for i in boost], 0xFFFFFFFE)
        Bm, _ = _pad_codes([b_arr[i][:4] for i in boost], 0xFFFFFFFF)
        L = max(A.shape[1], Bm.shape[1], 1)
        if A.shape[1] < L:
            A = np.pad(A, ((0, 0), (0, L - A.shape[1])), constant_values=0xFFFFFFFE)
        if Bm.shape[1] < L:
            Bm = np.pad(
                Bm, ((0, 0), (0, L - Bm.shape[1])), constant_values=0xFFFFFFFF
            )
        pfx = np.cumprod(A == Bm, axis=1).sum(axis=1).astype(np.float64)
        ob = out[boost]
        out[boost] = np.minimum(ob + pfx * prefix_weight * (1.0 - ob), 1.0)
    return out


def _padded_neq(a_arr, b_arr):
    """(neq matrix over the common-length region, la, lb) via UTF-32 code
    matrices padded with distinct sentinels (vectorized across pairs)."""
    A, la = _pad_codes(list(a_arr), 0xFFFFFFFE)
    B, lb = _pad_codes(list(b_arr), 0xFFFFFFFF)
    L = max(A.shape[1], B.shape[1], 1)
    if A.shape[1] < L:
        A = np.pad(A, ((0, 0), (0, L - A.shape[1])), constant_values=0xFFFFFFFE)
    if B.shape[1] < L:
        B = np.pad(B, ((0, 0), (0, L - B.shape[1])), constant_values=0xFFFFFFFF)
    return A != B, la, lb


def hamming_batch(a_arr, b_arr, pad: bool = True) -> np.ndarray:
    """Vectorized positional mismatches + length surplus. pad=False yields
    -1 (caller maps to null) on unequal lengths — the SQL-friendly analogue
    of the reference's Err (hamming.rs:232-235)."""
    n = len(a_arr)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    neq, la, lb = _padded_neq(a_arr, b_arr)
    common = np.minimum(la, lb)
    idx = np.arange(neq.shape[1], dtype=np.int64)[None, :]
    mism = (neq & (idx < common[:, None])).sum(axis=1).astype(np.int64)
    out = mism + np.abs(la - lb)
    if not pad:
        out = np.where(la != lb, -1, out)
    return out


def prefix_batch(a_arr, b_arr) -> np.ndarray:
    """Common-prefix length: first True of the padded != matrix (sentinels
    differ, so the pad boundary always mismatches)."""
    n = len(a_arr)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    neq, la, lb = _padded_neq(a_arr, b_arr)
    any_neq = neq.any(axis=1)
    first = neq.argmax(axis=1).astype(np.int64)
    return np.where(any_neq, first, np.minimum(la, lb))


def postfix_batch(a_arr, b_arr) -> np.ndarray:
    """Common-suffix length = common prefix of the reversed strings."""
    ra = np.array([s[::-1] for s in a_arr], dtype=object)
    rb = np.array([s[::-1] for s in b_arr], dtype=object)
    return prefix_batch(ra, rb)


def _strip_common_affix_batch(a_arr, b_arr):
    """Vectorized remove_common_affix (reference details/common.rs:79-108):
    common-prefix lengths from the padded != matrix, then common-suffix of
    the prefix-stripped remainders. Slicing is one O(1) Python string op
    per row — the counting, which is the O(len) part, stays NumPy."""
    pre = prefix_batch(a_arr, b_arr)
    a1 = np.array([s[p:] for s, p in zip(a_arr, pre)], dtype=object)
    b1 = np.array([s[p:] for s, p in zip(b_arr, pre)], dtype=object)
    post = postfix_batch(a1, b1)
    a2 = np.array(
        [s[: len(s) - q] if q else s for s, q in zip(a1, post)], dtype=object
    )
    b2 = np.array(
        [s[: len(s) - q] if q else s for s, q in zip(b1, post)], dtype=object
    )
    return a2, b2


_WWF_CHUNK = 4096  # bounds the (chunk, L2+1) int64 row-pair working set


def weighted_wf_batch_np(a_arr, b_arr, ins: int, dele: int, sub: int) -> np.ndarray:
    """Generic-weight Wagner-Fischer vectorized ACROSS PAIRS (the same
    padded-matrix + active-prefix-scheduling pattern as damerau_batch_np):
    one NumPy row step per pattern char over all live pairs, no per-pair
    dispatch. The within-row insert chain is folded by the prefix-min
    identity min_k<=j(cand[k] + (j-k)*ins) = accmin(cand[k] - k*ins) + j*ins
    (same trick as the per-pair wagner_fischer_weighted oracle kernel).
    O(L1*L2) work per pair as the reference documents for the generic
    weight case (levenshtein.rs:62-63)."""
    n = len(a_arr)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return out
    A, las = _pad_codes(list(a_arr), 0xFFFFFFFE)
    B, lbs = _pad_codes(list(b_arr), 0xFFFFFFFF)
    order = np.argsort(-las, kind="stable")
    A, B = A[order], B[order]
    las_s, lbs_s = las[order], lbs[order]
    L1, L2 = A.shape[1], B.shape[1]
    j_step = np.arange(1, L2 + 1, dtype=np.int64) * ins
    prev = np.empty((n, L2 + 1), dtype=np.int64)
    prev[:, 0] = 0
    prev[:, 1:] = j_step  # DP row 0: all inserts
    active = n
    for i in range(1, L1 + 1):
        while active > 0 and las_s[active - 1] < i:
            active -= 1  # rows past their pattern keep prev = dp[la] final
        a = slice(0, active)
        cost = np.where(B[a] == A[a, i - 1 : i], 0, sub)
        cand = np.minimum(prev[a, :-1] + cost, prev[a, 1:] + dele)
        t = np.minimum.accumulate(
            np.minimum(cand - j_step[None, :], i * dele), axis=1
        )
        prev[a, 1:] = np.minimum(cand, t + j_step[None, :])
        prev[a, 0] = i * dele
    res = prev[np.arange(n, dtype=np.intp), lbs_s]
    out[order] = res
    return out


def weighted_levenshtein_batch(a_arr, b_arr, weights=(1, 1, 1)) -> np.ndarray:
    """Weight rewrites per levenshtein.rs:1244-1331, batched. The generic
    case (ins != del, or sub < ins+del) runs the cross-pair vectorized
    Wagner-Fischer after a vectorized common-affix strip — no per-pair
    Python dispatch on any weight table."""
    ins, dele, sub = weights
    if ins == dele:
        if ins == sub:
            return levenshtein_batch(a_arr, b_arr) * ins
        if sub >= ins + dele:
            return indel_batch(a_arr, b_arr) * ins
    a_s, b_s = _strip_common_affix_batch(a_arr, b_arr)
    n = len(a_s)
    out = np.zeros(n, dtype=np.int64)
    for lo in range(0, n, _WWF_CHUNK):
        hi = lo + _WWF_CHUNK
        out[lo:hi] = weighted_wf_batch_np(a_s[lo:hi], b_s[lo:hi], ins, dele, sub)
    return out


def maximum_batch(metric: str, a_arr, b_arr, weights=(1, 1, 1)) -> np.ndarray:
    n = len(a_arr)
    la = np.fromiter((len(x) for x in a_arr), dtype=np.int64, count=n)
    lb = np.fromiter((len(x) for x in b_arr), dtype=np.int64, count=n)
    if metric == "indel":
        return la + lb
    if metric == "levenshtein":
        ins, dele, sub = weights
        lo = np.minimum(la, lb)
        return lo * min(sub, ins + dele) + np.where(
            la > lb, (la - lb) * dele, (lb - la) * ins
        )
    # lcs_seq, osa, damerau_levenshtein, hamming, prefix, postfix
    return np.maximum(la, lb)
