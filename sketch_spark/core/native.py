"""Optional compiled kernels for the serial decode recurrences and the
sketch hot loop.

Two loops in the pure-python decoders are serial by nature and so
cannot be expressed as numpy whole-array ops:

* the PNG unfilter recurrence for filters 3 (Average) and 4 (Paeth) —
  ``recon[x]`` needs ``recon[x - bpp]`` (PNG spec §9 / RFC 2083), and
  organic-crawl PNGs are Paeth-heavy (libpng's adaptive default
  selects it on photographic rows);
* the JPEG entropy scan — Huffman codes are variable-length, so the
  position of symbol k+1 depends on decoding symbol k (ITU-T T.81
  §F.2.2), which made the per-bit python loop ~85% of JPEG decode
  wall.

Both made the pure-python scans the multimodal path's real scale
risks.

The sketch hot loop adds three more: string hashing straight from the
Arrow buffers (``hash_strings``), the rolling n-gram combine summed per
distinct key (``gram_counts``), and the CMCU batch conservative update
(``cmcu_update``).  In numpy these cost one sweep per byte column, a
sort per n-gram order and two sorts per update; here each is one pass.
``hash_strings`` has exactly one caller, ``core.hashing.hash_strings``,
which every string hash in the package goes through and which alone
chooses between this kernel and its numpy twin.

Each loop is plain C compiled once per machine at first use
(``cc -O3 -shared -fPIC``, cached in the system temp dir keyed by the
source md5) and called through ctypes — no dependency beyond a system
compiler, which clusters building native Spark extensions already
carry.  Concurrent python workers race the first build safely: each
compiles to a pid-suffixed temp file and ``os.replace``s it into the
cache path atomically.  When no compiler exists, or the build or load
fails, the process logs one WARNING naming the reason and every caller
runs its numpy/python path — property-tested byte-equal to the
kernels.  ``SKETCH_SPARK_NO_NATIVE=1`` forces the same fallback
silently, as the equivalence tests do.
"""

from __future__ import annotations

import ctypes
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
import threading

import numpy as np

__all__ = [
    "cmcu_update",
    "gram_counts",
    "hash_strings",
    "jpeg_prog_ac",
    "jpeg_prog_dc",
    "jpeg_scan",
    "png_unfilter",
]

_SRC = r"""
#include <stdint.h>
#include <stdlib.h>
#include <string.h>

/* Reverse the five PNG scanline filters (spec section 9).
   raw: h * (stride + 1) bytes, each row led by its filter byte.
   out: h * stride reconstructed bytes.
   Returns 0 on success, y + 1 when row y carries an unknown filter.

   The first-bpp-bytes boundary (no left neighbor) is peeled out of
   every loop, and Paeth uses the algebraic simplification
   pa=|b-c|, pb=|a-c|, pc=|a+b-2c| (p=a+b-c cancels), which together
   bring the serial recurrence to ~memory speed. */
long png_unfilter(const unsigned char * restrict raw,
                  unsigned char * restrict out,
                  long h, long stride, long bpp) {
    const unsigned char *prev = 0;
    for (long y = 0; y < h; y++) {
        const unsigned char *line = raw + y * (stride + 1) + 1;
        int f = raw[y * (stride + 1)];
        unsigned char *rec = out + y * stride;
        long x;
        if (f == 0) {
            memcpy(rec, line, (size_t)stride);
        } else if (f == 1) { /* Sub */
            for (x = 0; x < bpp && x < stride; x++) rec[x] = line[x];
            for (; x < stride; x++)
                rec[x] = (unsigned char)(line[x] + rec[x - bpp]);
        } else if (f == 2) { /* Up */
            if (!prev) memcpy(rec, line, (size_t)stride);
            else
                for (x = 0; x < stride; x++)
                    rec[x] = (unsigned char)(line[x] + prev[x]);
        } else if (f == 3) { /* Average */
            for (x = 0; x < bpp && x < stride; x++)
                rec[x] = (unsigned char)(line[x] + ((prev ? prev[x] : 0) >> 1));
            for (; x < stride; x++) {
                int up = prev ? prev[x] : 0;
                rec[x] = (unsigned char)(line[x] + ((rec[x - bpp] + up) >> 1));
            }
        } else if (f == 4) { /* Paeth */
            for (x = 0; x < bpp && x < stride; x++)
                rec[x] = (unsigned char)(line[x] + (prev ? prev[x] : 0));
            if (prev) {
                for (; x < stride; x++) {
                    int a = rec[x - bpp], b = prev[x], c = prev[x - bpp];
                    int pa = abs(b - c), pb = abs(a - c);
                    int pc = abs(a + b - 2 * c);
                    int pr = (pa <= pb && pa <= pc) ? a : (pb <= pc ? b : c);
                    rec[x] = (unsigned char)(line[x] + pr);
                }
            } else { /* first row: b = c = 0, predictor is always a */
                for (; x < stride; x++)
                    rec[x] = (unsigned char)(line[x] + rec[x - bpp]);
            }
        } else {
            return y + 1;
        }
        prev = rec;
    }
    return 0;
}

/* ------------------------------------------------------------------ */
/* Baseline JPEG entropy scan (ITU-T T.81 F.2.2): Huffman decode +
   EXTEND + DC prediction for every block of every MCU, with 0xFF00
   unstuffing, RSTn handling, and the same 1-bit-synthesis-at-marker
   semantics as the python _BitReader (functions/jpegcodec.py).

   Negative return codes map to the python path's ValueErrors:
     -1 truncated scan   -2 invalid Huffman code   -3 bad DC category
     -4 AC run past end  -5 expected RST marker    -6 scan exhausted
   (synthesized-padding cap, see jpegcodec._BitReader._fill). */

typedef struct {
    const unsigned char *buf;
    long len, pos;
    unsigned int acc;
    int n, synth;
} jbits;

static long jb_fill(jbits *r) {
    unsigned int b;
    if (r->pos >= r->len) return -1;
    b = r->buf[r->pos];
    if (b == 0xFF) {
        if (r->pos + 1 < r->len && r->buf[r->pos + 1] == 0x00) {
            r->pos += 2;
        } else { /* a real marker: synthesize the spec's 1-bit padding */
            r->synth += 8;
            if (r->synth > 48) return -6;
            r->acc = 0xFF;
            r->n = 8;
            return 0;
        }
    } else {
        r->pos += 1;
    }
    r->acc = b;
    r->n = 8;
    return 0;
}

static long jb_bit(jbits *r) {
    if (r->n == 0) {
        long e = jb_fill(r);
        if (e) return e;
    }
    r->n -= 1;
    return (r->acc >> r->n) & 1u;
}

static long jb_bits(jbits *r, long k, long *out) {
    long v = 0, b;
    while (k--) {
        b = jb_bit(r);
        if (b < 0) return b;
        v = (v << 1) | b;
    }
    *out = v;
    return 0;
}

/* canonical decode per T.81 F.16: tables are 17-int rows (index 1..16;
   maxcode[l] == -1 means no codes of length l) */
static long jb_huff(jbits *r, const int *mincode, const int *maxcode,
                    const int *valptr, const unsigned char *vals) {
    long code = 0, l, b;
    for (l = 1; l <= 16; l++) {
        b = jb_bit(r);
        if (b < 0) return b;
        code = (code << 1) | b;
        if (maxcode[l] >= 0 && code <= maxcode[l])
            return vals[valptr[l] + code - mincode[l]];
    }
    return -2;
}

#define JB_EXTEND(v, s) (((v) >= (1L << ((s) - 1))) ? (v) : (v) - (1L << (s)) + 1)

/* consume an RSTn marker at a restart boundary (same fill-byte walk
   as jpegcodec._BitReader.align_to_marker); returns 0 or an error */
static long jb_rst(jbits *r) {
    long mk;
    r->acc = 0;
    r->n = 0;
    while (r->pos + 1 < r->len && r->buf[r->pos] == 0xFF &&
           r->buf[r->pos + 1] == 0xFF)
        r->pos++; /* fill bytes */
    if (r->pos + 1 >= r->len || r->buf[r->pos] != 0xFF) return -5;
    mk = r->buf[r->pos + 1];
    r->pos += 2;
    if (mk < 0xD0 || mk > 0xD7) return -5;
    return 0;
}

/* comp_spec: ncomp rows of (blocks_per_mcu, dc_slot, ac_slot); table
   slot t owns mincode/maxcode/valptr[t*17..] and huffval[t*256..].
   out: n_mcus * sum(blocks_per_mcu) blocks of 64 int64 coefficients in
   ZIGZAG order, DC prediction already resolved. */
long jpeg_scan(const unsigned char *buf, long len, long pos,
               const int * restrict mincode, const int * restrict maxcode,
               const int * restrict valptr,
               const unsigned char * restrict huffval,
               const long * restrict comp_spec, long ncomp,
               long n_mcus, long restart_interval,
               long long * restrict out) {
    jbits r = {buf, len, pos, 0, 0, 0};
    long long preds[4] = {0, 0, 0, 0};
    long long *o = out;
    long m, ci, bi, k;
    if (ncomp < 1 || ncomp > 4) return -7;
    for (m = 0; m < n_mcus; m++) {
        if (restart_interval && m && m % restart_interval == 0) {
            long e = jb_rst(&r);
            if (e) return e;
            for (ci = 0; ci < ncomp; ci++) preds[ci] = 0;
        }
        for (ci = 0; ci < ncomp; ci++) {
            long nb = comp_spec[ci * 3];
            const int *dmin = mincode + comp_spec[ci * 3 + 1] * 17;
            const int *dmax = maxcode + comp_spec[ci * 3 + 1] * 17;
            const int *dvp = valptr + comp_spec[ci * 3 + 1] * 17;
            const unsigned char *dvals = huffval + comp_spec[ci * 3 + 1] * 256;
            const int *amin = mincode + comp_spec[ci * 3 + 2] * 17;
            const int *amax = maxcode + comp_spec[ci * 3 + 2] * 17;
            const int *avp = valptr + comp_spec[ci * 3 + 2] * 17;
            const unsigned char *avals = huffval + comp_spec[ci * 3 + 2] * 256;
            for (bi = 0; bi < nb; bi++) {
                long s, v, e, rs, rr, ss;
                memset(o, 0, 64 * sizeof(long long));
                s = jb_huff(&r, dmin, dmax, dvp, dvals);
                if (s < 0) return s;
                if (s > 11) return -3;
                if (s) {
                    e = jb_bits(&r, s, &v);
                    if (e) return e;
                    preds[ci] += JB_EXTEND(v, s);
                }
                o[0] = preds[ci];
                k = 1;
                while (k < 64) {
                    rs = jb_huff(&r, amin, amax, avp, avals);
                    if (rs < 0) return rs;
                    rr = rs >> 4;
                    ss = rs & 15;
                    if (ss == 0) {
                        if (rr == 15) { k += 16; continue; }
                        break; /* EOB */
                    }
                    k += rr;
                    if (k > 63) return -4;
                    e = jb_bits(&r, ss, &v);
                    if (e) return e;
                    o[k] = JB_EXTEND(v, ss);
                    k += 1;
                }
                o += 64;
            }
        }
    }
    return 0;
}

/* Progressive DC scan (T.81 G.2.1-G.2.2): first pass (ah==0) decodes
   point-transformed DC differences, refinement (ah>0) ORs one raw bit
   per block at position al.  dc is the gathered DC column in decode
   order (unit-major, scan-component, block); comp_spec rows are
   (blocks_per_unit, dc_table_slot). */
long jpeg_prog_dc(const unsigned char *buf, long len, long pos,
                  const int * restrict mincode, const int * restrict maxcode,
                  const int * restrict valptr,
                  const unsigned char * restrict huffval,
                  const long * restrict comp_spec, long ncomp,
                  long n_units, long restart_interval, long ah, long al,
                  long long * restrict dc) {
    jbits r = {buf, len, pos, 0, 0, 0};
    long long preds[4] = {0, 0, 0, 0};
    long long *o = dc;
    long m, ci, bi;
    if (ncomp < 1 || ncomp > 4) return -7;
    for (m = 0; m < n_units; m++) {
        if (restart_interval && m && m % restart_interval == 0) {
            long e = jb_rst(&r);
            if (e) return e;
            for (ci = 0; ci < ncomp; ci++) preds[ci] = 0;
        }
        for (ci = 0; ci < ncomp; ci++) {
            long nb = comp_spec[ci * 2];
            long slot = comp_spec[ci * 2 + 1];
            for (bi = 0; bi < nb; bi++) {
                if (ah == 0) {
                    long s = jb_huff(&r, mincode + slot * 17,
                                     maxcode + slot * 17, valptr + slot * 17,
                                     huffval + slot * 256);
                    if (s < 0) return s;
                    if (s > 11) return -3;
                    if (s) {
                        long v, e = jb_bits(&r, s, &v);
                        if (e) return e;
                        preds[ci] += JB_EXTEND(v, s);
                    }
                    *o = preds[ci] << al;
                } else {
                    long b = jb_bit(&r);
                    if (b < 0) return b;
                    if (b) *o |= (1LL << al);
                }
                o++;
            }
        }
    }
    return 0;
}

/* Progressive AC scan (single component, raster order): spectral
   selection first pass (ah==0) with EOB runs, or successive
   approximation refinement (ah>0) with inline correction bits — the
   walks mirror jpegcodec._ac_first_block/_ac_refine_block exactly.
   coef: n_units rows of 64 zigzag coefficients, updated in place;
   the one Huffman table sits at slot 0. */
long jpeg_prog_ac(const unsigned char *buf, long len, long pos,
                  const int * restrict mincode, const int * restrict maxcode,
                  const int * restrict valptr,
                  const unsigned char * restrict huffval,
                  long n_units, long restart_interval,
                  long ss, long se, long ah, long al,
                  long long * restrict coef) {
    jbits r = {buf, len, pos, 0, 0, 0};
    long long eobrun = 0;
    long long p1 = 1LL << al, m1 = -(1LL << al);
    long m, k;
    for (m = 0; m < n_units; m++) {
        long long *row = coef + m * 64;
        if (restart_interval && m && m % restart_interval == 0) {
            long e = jb_rst(&r);
            if (e) return e;
            eobrun = 0;
        }
        if (ah == 0) {
            if (eobrun > 0) {
                eobrun--;
                continue;
            }
            k = ss;
            while (k <= se) {
                long rs = jb_huff(&r, mincode, maxcode, valptr, huffval);
                long run, s, v, e;
                if (rs < 0) return rs;
                run = rs >> 4;
                s = rs & 15;
                if (s == 0) {
                    if (run < 15) {
                        eobrun = (1LL << run) - 1;
                        if (run) {
                            e = jb_bits(&r, run, &v);
                            if (e) return e;
                            eobrun += v;
                        }
                        break;
                    }
                    k += 16; /* ZRL */
                    continue;
                }
                k += run;
                if (k > se) return -4;
                e = jb_bits(&r, s, &v);
                if (e) return e;
                row[k] = (long long)JB_EXTEND(v, s) << al;
                k++;
            }
        } else {
            k = ss;
            if (eobrun == 0) {
                while (k <= se) {
                    long rs = jb_huff(&r, mincode, maxcode, valptr, huffval);
                    long run, s, v, e, b;
                    long long val = 0;
                    if (rs < 0) return rs;
                    run = rs >> 4;
                    s = rs & 15;
                    if (s == 0) {
                        if (run < 15) {
                            eobrun = 1LL << run;
                            if (run) {
                                e = jb_bits(&r, run, &v);
                                if (e) return e;
                                eobrun += v;
                            }
                            break; /* rest of block via the EOB tail */
                        }
                        /* run == 15: ZRL, skip 16 zero-history coefs */
                    } else {
                        if (s != 1) return -8;
                        b = jb_bit(&r);
                        if (b < 0) return b;
                        val = b ? p1 : m1;
                    }
                    while (k <= se) {
                        if (row[k]) {
                            b = jb_bit(&r);
                            if (b < 0) return b;
                            if (b && !(row[k] & p1))
                                row[k] += (row[k] >= 0) ? p1 : m1;
                        } else {
                            if (run == 0) break;
                            run--;
                        }
                        k++;
                    }
                    if (val && k <= se) row[k] = val;
                    k++;
                }
            }
            if (eobrun > 0) {
                for (; k <= se; k++) {
                    if (row[k]) {
                        long b = jb_bit(&r);
                        if (b < 0) return b;
                        if (b && !(row[k] & p1))
                            row[k] += (row[k] >= 0) ? p1 : m1;
                    }
                }
                eobrun--;
            }
        }
    }
    return 0;
}

/* ------------------------------------------------------------------ */
/* Sketch hot loop: token hashing, n-gram counting and the CMCU batch
   conservative update (the reference's scan -> hash -> update loop,
   sketch.cpp:98-171).  Each one matches its numpy twin in
   core/hashing.py, functions/text.py and core/countmin.py bit for
   bit; uint64 arithmetic wraps exactly as numpy's does. */

static inline uint64_t mix64(uint64_t z, uint64_t seed) {
    z ^= seed;
    z += 0x9E3779B97F4A7C15ULL;
    z = (z ^ (z >> 30)) * 0xBF58476D1CE4E5B9ULL;
    z = (z ^ (z >> 27)) * 0x94D049BB133111EBULL;
    return z ^ (z >> 31);
}

/* hashing.hash_strings: FNV-1a over the first max_len bytes, xor the
   full length, then the splitmix64 finalizer.  offsets holds n + 1
   entries of owide (4 or 8) bytes; the caller has checked the first
   and last against the data buffer.  Returns 0, or i + 1 when
   string i has a negative length. */
long hash_strings_u64(const unsigned char * restrict data,
                      const void * restrict offsets, long owide, long n,
                      uint64_t init, long max_len,
                      uint64_t * restrict out) {
    const int32_t *o32 = (const int32_t *)offsets;
    const int64_t *o64 = (const int64_t *)offsets;
    for (long i = 0; i < n; i++) {
        int64_t s = owide == 4 ? o32[i] : o64[i];
        int64_t e = owide == 4 ? o32[i + 1] : o64[i + 1];
        if (e < s) return i + 1;
        int64_t len = e - s, l = len < max_len ? len : max_len;
        const unsigned char *p = data + s;
        uint64_t h = 0xCBF29CE484222325ULL ^ init;
        for (int64_t j = 0; j < l; j++) h = (h ^ p[j]) * 0x100000001B3ULL;
        out[i] = mix64(h ^ (uint64_t)len, 0);
    }
    return 0;
}

/* Sum the counts of each distinct key (cnt == NULL: every key counts
   1).  One table over all keys is bound by memory latency, so keys are
   first scattered into okeys/ocnts by the top bits of a Fibonacci hash,
   in groups of about 4k, and each group is then summed in an
   open-addressing table that stays in L1/L2 and compacted in place
   (the i-th key read never lands past slot i).  okeys/ocnts have room
   for n and must not overlap keys/cnt, except that keys may be ocnts
   itself when cnt == NULL (it is read only before any count is
   written).  Returns the number u of distinct keys, now in
   okeys/ocnts[0:u], or -1 when out of memory. */
static long agg_counts(const uint64_t *keys, const int64_t *cnt, long n,
                       uint64_t *okeys, int64_t *ocnts) {
    int bits = 0, tb = 4;
    long u = 0, maxp = 0;
    if (n == 0) return 0;
    while (bits < 12 && (n >> bits) > 4096) bits++;
    long np_ = 1L << bits;
    long *start = calloc((size_t)np_ + 1, sizeof(long));
    long *cur = malloc((size_t)np_ * sizeof(long));
    int32_t *table = 0;
    if (!start || !cur) goto fail;
#define AGG_FIB(k) ((k) * 0x9E3779B97F4A7C15ULL)
#define AGG_PART(f) (bits ? (long)((f) >> (64 - bits)) : 0L)
    for (long i = 0; i < n; i++) start[AGG_PART(AGG_FIB(keys[i])) + 1]++;
    for (long p = 0; p < np_; p++) {
        if (start[p + 1] > maxp) maxp = start[p + 1];
        start[p + 1] += start[p];
        cur[p] = start[p];
    }
    if (maxp > INT32_MAX) goto fail;
    for (long i = 0; i < n; i++) {
        long d = cur[AGG_PART(AGG_FIB(keys[i]))]++;
        okeys[d] = keys[i];
        if (cnt) ocnts[d] = cnt[i];
    }
    while ((1L << tb) < 2 * maxp) tb++;
    table = malloc(((size_t)1 << tb) * sizeof(int32_t));
    if (!table) goto fail;
    for (long p = 0; p < np_; p++) {
        long base = u;
        tb = 4;
        while ((1L << tb) < 2 * (start[p + 1] - start[p])) tb++;
        uint64_t mask = ((uint64_t)1 << tb) - 1;
        memset(table, 0xFF, ((size_t)1 << tb) * sizeof(int32_t));
        for (long i = start[p]; i < start[p + 1]; i++) {
            uint64_t k = okeys[i];
            int64_t c = cnt ? ocnts[i] : 1;
            uint64_t s = (AGG_FIB(k) << bits) >> (64 - tb);
            for (;;) {
                int32_t t = table[s];
                if (t < 0) {
                    table[s] = (int32_t)(u - base);
                    okeys[u] = k;
                    ocnts[u] = c;
                    u++;
                    break;
                }
                if (okeys[base + t] == k) {
                    ocnts[base + t] = (int64_t)((uint64_t)ocnts[base + t] + (uint64_t)c);
                    break;
                }
                s = (s + 1) & mask;
            }
        }
    }
#undef AGG_FIB
#undef AGG_PART
    free(start); free(cur); free(table);
    return u;
fail:
    free(start); free(cur); free(table);
    return -1;
}

/* text.hashes_from_base's rolling n-gram combine and same-row guard
   over per-occurrence token hashes h, aggregated to (key, count).
   parent[i] is the row of token i.  Returns the number of distinct
   keys written to okeys/ocnts (room for n), or -1 when out of
   memory. */
long gram_counts(const uint64_t * restrict h, const int64_t * restrict parent,
                 long n, long ngram, uint64_t *okeys, int64_t *ocnts) {
    if (ngram <= 1) return agg_counts(h, 0, n, okeys, ocnts);
    if (n < ngram) return 0;
    /* the grams are staged in ocnts, which agg_counts reads before it
       writes any count */
    uint64_t *grams = (uint64_t *)ocnts;
    long m = n - ngram + 1, g = 0;
    for (long i = 0; i < m; i++) {
        if (parent[i] != parent[i + ngram - 1]) continue;
        uint64_t c = h[i];
        for (long j = 1; j < ngram; j++)
            c = mix64((c * 0x9DDFEA08EB382D69ULL) ^ h[i + j], (uint64_t)j);
        grams[g++] = c;
    }
    return agg_counts(grams, 0, g, okeys, ocnts);
}

/* CountMinCU batch conservative update on a (depth, 2^log2w) int64
   table: aggregate the batch to distinct keys unless is_unique or the
   keys are strictly increasing (np.unique output), read every key's
   pre-batch minimum est, then scatter max(counter, est + count) into
   its depth counters.  cnt == NULL counts each key once.  Returns 0,
   or -1 when out of memory. */
long cmcu_update(int64_t * restrict table, long depth, long log2w,
                 const uint64_t *a, const uint64_t *b,
                 const uint64_t *keys, const int64_t *cnt, long n,
                 long is_unique) {
    uint64_t *uk = 0;
    int64_t *nv = 0;
    const uint64_t *k = keys;
    const int64_t *c = cnt;
    long u = n, w = 1L << log2w;
    int shift = 64 - (int)log2w;
    nv = malloc((size_t)(n ? n : 1) * sizeof(int64_t));
    if (!nv) return -1;
    if (!is_unique) {
        is_unique = 1;
        for (long i = 1; i < n && is_unique; i++) is_unique = keys[i - 1] < keys[i];
    }
    if (!is_unique || !cnt) {
        uk = malloc((size_t)(n ? n : 1) * sizeof(uint64_t));
        u = uk ? agg_counts(keys, cnt, n, uk, nv) : -1;
        if (u < 0) {
            free(uk);
            free(nv);
            return -1;
        }
        k = uk;
        c = nv; /* each new value overwrites the count it was made from */
    }
    for (long i = 0; i < u; i++) {
        int64_t est = INT64_MAX;
        for (long j = 0; j < depth; j++) {
            uint64_t idx = ((a[j] | 1) * k[i] + b[j]) >> shift;
            int64_t v = table[j * w + (long)idx];
            if (v < est) est = v;
        }
        nv[i] = (int64_t)((uint64_t)est + (uint64_t)c[i]);
    }
    for (long j = 0; j < depth; j++) {
        int64_t *row = table + j * w;
        uint64_t aj = a[j] | 1, bj = b[j];
        for (long i = 0; i < u; i++) {
            long idx = (long)((aj * k[i] + bj) >> shift);
            if (row[idx] < nv[i]) row[idx] = nv[i];
        }
    }
    free(uk);
    free(nv);
    return 0;
}
"""

_log = logging.getLogger(__name__)
_lock = threading.Lock()
_lib: ctypes.CDLL | None = None
_tried = False


def _fallback(reason: str) -> None:
    """Log why this process runs the numpy/python paths instead."""
    _log.warning("native kernels unavailable (%s); using the numpy/python fallbacks", reason)


def _build() -> ctypes.CDLL | None:
    if os.environ.get("SKETCH_SPARK_NO_NATIVE"):
        return None
    key = hashlib.md5(_SRC.encode()).hexdigest()[:16]
    so = os.path.join(tempfile.gettempdir(), f"sketch_spark_native_{key}.so")
    if not os.path.exists(so):
        cc = shutil.which("cc") or shutil.which("gcc")
        if cc is None:
            _fallback("no C compiler: neither cc nor gcc is on PATH")
            return None
        src = None
        tmp = f"{so}.{os.getpid()}.tmp"
        try:
            with tempfile.NamedTemporaryFile(
                "w", suffix=".c", delete=False
            ) as f:
                f.write(_SRC)
                src = f.name
            subprocess.run(
                [cc, "-O3", "-shared", "-fPIC", "-o", tmp, src],
                check=True,
                capture_output=True,
                timeout=120,
            )
            os.replace(tmp, so)
        except subprocess.CalledProcessError as e:
            err = e.stderr.decode(errors="replace").strip().splitlines()
            _fallback(f"{cc} exited {e.returncode}: {err[-1] if err else 'no output'}")
            return None
        except (OSError, subprocess.SubprocessError) as e:
            _fallback(f"compiling with {cc} failed: {e}")
            return None
        finally:
            for p in (src, tmp):
                if p is not None and os.path.exists(p):
                    try:
                        os.unlink(p)
                    except OSError:
                        pass
    try:
        lib = ctypes.CDLL(so)
    except OSError as e:
        _fallback(f"cannot load {so}: {e}")
        return None
    lib.png_unfilter.restype = ctypes.c_long
    lib.png_unfilter.argtypes = [ctypes.c_void_p, ctypes.c_void_p] + [
        ctypes.c_long
    ] * 3
    lib.jpeg_scan.restype = ctypes.c_long
    lib.jpeg_scan.argtypes = (
        [ctypes.c_void_p, ctypes.c_long, ctypes.c_long]
        + [ctypes.c_void_p] * 5
        + [ctypes.c_long] * 3
        + [ctypes.c_void_p]
    )
    lib.jpeg_prog_dc.restype = ctypes.c_long
    lib.jpeg_prog_dc.argtypes = (
        [ctypes.c_void_p, ctypes.c_long, ctypes.c_long]
        + [ctypes.c_void_p] * 5
        + [ctypes.c_long] * 5
        + [ctypes.c_void_p]
    )
    lib.jpeg_prog_ac.restype = ctypes.c_long
    lib.jpeg_prog_ac.argtypes = (
        [ctypes.c_void_p, ctypes.c_long, ctypes.c_long]
        + [ctypes.c_void_p] * 4
        + [ctypes.c_long] * 6
        + [ctypes.c_void_p]
    )
    lib.hash_strings_u64.restype = ctypes.c_long
    lib.hash_strings_u64.argtypes = (
        [ctypes.c_void_p] * 2 + [ctypes.c_long] * 2 + [ctypes.c_uint64, ctypes.c_long, ctypes.c_void_p]
    )
    lib.gram_counts.restype = ctypes.c_long
    lib.gram_counts.argtypes = [ctypes.c_void_p] * 2 + [ctypes.c_long] * 2 + [ctypes.c_void_p] * 2
    lib.cmcu_update.restype = ctypes.c_long
    lib.cmcu_update.argtypes = (
        [ctypes.c_void_p] + [ctypes.c_long] * 2 + [ctypes.c_void_p] * 4 + [ctypes.c_long] * 2
    )
    return lib


def _get() -> ctypes.CDLL | None:
    global _lib, _tried
    if not _tried:
        with _lock:
            if not _tried:
                _lib = _build()
                _tried = True
    return _lib


def png_unfilter(
    raw: np.ndarray, h: int, stride: int, bpp: int
) -> np.ndarray | None:
    """Reverse all five PNG scanline filters in one compiled pass.

    ``raw`` is the inflated filtered stream (uint8, >= h*(stride+1)
    bytes).  Returns the reconstructed ``(h, stride)`` uint8 array, or
    ``None`` when the native kernel is unavailable (no compiler /
    kill-switched) so the caller can run its python scan.  Raises
    ``ValueError`` on an unknown filter byte — the same contract as
    the python path."""
    lib = _get()
    if lib is None:
        return None
    if len(raw) < h * (stride + 1):
        # enforce the documented precondition BEFORE the C kernel walks
        # raw + y*(stride+1): a short buffer would be a heap overread
        raise ValueError(
            f"png_unfilter: raw has {len(raw)} bytes, need {h * (stride + 1)}"
        )
    raw = np.ascontiguousarray(raw[: h * (stride + 1)], np.uint8)
    out = np.empty(h * stride, np.uint8)
    rc = lib.png_unfilter(
        ctypes.c_void_p(raw.ctypes.data),
        ctypes.c_void_p(out.ctypes.data),
        h,
        stride,
        bpp,
    )
    if rc:
        f = int(raw[(rc - 1) * (stride + 1)])
        raise ValueError(f"bad PNG filter byte {f} on row {rc - 1}")
    return out.reshape(h, stride)


_JPEG_SCAN_ERRORS = {
    -1: "truncated JPEG scan data",
    -2: "invalid JPEG Huffman code",
    -3: "bad DC category",
    -4: "JPEG AC run past block end",
    -5: "expected RST marker in JPEG scan",
    -6: "JPEG scan data exhausted before all MCUs",
    -7: "unsupported JPEG component count",
    -8: "bad JPEG AC refinement magnitude",
}


def _jpeg_check(rc: int) -> None:
    if rc:
        raise ValueError(_JPEG_SCAN_ERRORS.get(int(rc), f"JPEG scan error {rc}"))


def jpeg_scan(
    buf: bytes,
    pos: int,
    mincode: np.ndarray,
    maxcode: np.ndarray,
    valptr: np.ndarray,
    huffval: np.ndarray,
    comp_spec: np.ndarray,
    n_mcus: int,
    restart_interval: int,
) -> np.ndarray | None:
    """Entropy-decode a whole baseline JPEG scan in one compiled pass.

    ``mincode``/``maxcode``/``valptr`` are int32 ``(n_tables, 17)``
    canonical-code rows and ``huffval`` the matching uint8
    ``(n_tables, 256)`` symbol rows (built by
    ``jpegcodec._huff_flat``); ``comp_spec`` is int64 ``(ncomp, 3)``
    rows of (blocks_per_mcu, dc_table_slot, ac_table_slot).  Returns
    the ``(n_mcus * sum(blocks_per_mcu), 64)`` int64 coefficient
    blocks in zigzag order with DC prediction applied, or ``None``
    when the native kernel is unavailable so the caller runs the
    python bit loop.  Raises ``ValueError`` on malformed scans — the
    same contract as the python path."""
    lib = _get()
    if lib is None:
        return None
    mincode = np.ascontiguousarray(mincode, np.int32)
    maxcode = np.ascontiguousarray(maxcode, np.int32)
    valptr = np.ascontiguousarray(valptr, np.int32)
    huffval = np.ascontiguousarray(huffval, np.uint8)
    comp_spec = np.ascontiguousarray(comp_spec, np.int64)
    n_tables = mincode.shape[0]
    if not (
        mincode.shape == maxcode.shape == valptr.shape == (n_tables, 17)
        and huffval.shape == (n_tables, 256)
        and comp_spec.ndim == 2
        and comp_spec.shape[1] == 3
    ):
        raise ValueError("jpeg_scan: malformed table arrays")
    if comp_spec[:, 1:].min() < 0 or comp_spec[:, 1:].max() >= n_tables:
        raise ValueError("jpeg_scan: table slot out of range")
    total_blocks = int(n_mcus) * int(comp_spec[:, 0].sum())
    out = np.empty((total_blocks, 64), np.int64)
    raw = np.frombuffer(buf, np.uint8)
    rc = lib.jpeg_scan(
        ctypes.c_void_p(raw.ctypes.data),
        len(raw),
        int(pos),
        ctypes.c_void_p(mincode.ctypes.data),
        ctypes.c_void_p(maxcode.ctypes.data),
        ctypes.c_void_p(valptr.ctypes.data),
        ctypes.c_void_p(huffval.ctypes.data),
        ctypes.c_void_p(comp_spec.ctypes.data),
        comp_spec.shape[0],
        int(n_mcus),
        int(restart_interval),
        ctypes.c_void_p(out.ctypes.data),
    )
    _jpeg_check(rc)
    return out


def jpeg_prog_dc(
    buf: bytes,
    pos: int,
    mincode: np.ndarray,
    maxcode: np.ndarray,
    valptr: np.ndarray,
    huffval: np.ndarray,
    comp_spec: np.ndarray,
    n_units: int,
    restart_interval: int,
    ah: int,
    al: int,
    dc: np.ndarray,
) -> np.ndarray | None:
    """Progressive DC scan over the gathered DC column ``dc`` (int64,
    decode order), updated in place; ``comp_spec`` is int64
    ``(ncomp, 2)`` rows of (blocks_per_unit, dc_table_slot).  Returns
    ``dc`` or ``None`` when the kernel is unavailable."""
    lib = _get()
    if lib is None:
        return None
    mincode = np.ascontiguousarray(mincode, np.int32)
    maxcode = np.ascontiguousarray(maxcode, np.int32)
    valptr = np.ascontiguousarray(valptr, np.int32)
    huffval = np.ascontiguousarray(huffval, np.uint8)
    comp_spec = np.ascontiguousarray(comp_spec, np.int64)
    n_tables = mincode.shape[0]
    if not (
        mincode.shape == maxcode.shape == valptr.shape == (n_tables, 17)
        and huffval.shape == (n_tables, 256)
        and comp_spec.ndim == 2
        and comp_spec.shape[1] == 2
    ):
        raise ValueError("jpeg_prog_dc: malformed table arrays")
    if comp_spec[:, 1].min() < 0 or comp_spec[:, 1].max() >= n_tables:
        raise ValueError("jpeg_prog_dc: table slot out of range")
    if not (dc.dtype == np.int64 and dc.flags.c_contiguous):
        raise ValueError("jpeg_prog_dc: dc must be contiguous int64")
    if len(dc) != int(n_units) * int(comp_spec[:, 0].sum()):
        raise ValueError("jpeg_prog_dc: dc length mismatch")
    raw = np.frombuffer(buf, np.uint8)
    rc = lib.jpeg_prog_dc(
        ctypes.c_void_p(raw.ctypes.data),
        len(raw),
        int(pos),
        ctypes.c_void_p(mincode.ctypes.data),
        ctypes.c_void_p(maxcode.ctypes.data),
        ctypes.c_void_p(valptr.ctypes.data),
        ctypes.c_void_p(huffval.ctypes.data),
        ctypes.c_void_p(comp_spec.ctypes.data),
        comp_spec.shape[0],
        int(n_units),
        int(restart_interval),
        int(ah),
        int(al),
        ctypes.c_void_p(dc.ctypes.data),
    )
    _jpeg_check(rc)
    return dc


def jpeg_prog_ac(
    buf: bytes,
    pos: int,
    mincode: np.ndarray,
    maxcode: np.ndarray,
    valptr: np.ndarray,
    huffval: np.ndarray,
    n_units: int,
    restart_interval: int,
    ss: int,
    se: int,
    ah: int,
    al: int,
    coef: np.ndarray,
) -> np.ndarray | None:
    """Progressive AC scan (single component) over ``coef`` —
    contiguous int64 ``(n_units, 64)`` zigzag rows updated in place
    (spectral-selection first pass or refinement per ``ah``).  The one
    Huffman table sits at flat-table slot 0.  Returns ``coef`` or
    ``None`` when the kernel is unavailable."""
    lib = _get()
    if lib is None:
        return None
    mincode = np.ascontiguousarray(mincode, np.int32)
    maxcode = np.ascontiguousarray(maxcode, np.int32)
    valptr = np.ascontiguousarray(valptr, np.int32)
    huffval = np.ascontiguousarray(huffval, np.uint8)
    if not (
        mincode.shape == maxcode.shape == valptr.shape == (1, 17)
        and huffval.shape == (1, 256)
    ):
        raise ValueError("jpeg_prog_ac: malformed table arrays")
    if not (
        coef.dtype == np.int64
        and coef.flags.c_contiguous
        and coef.shape == (int(n_units), 64)
    ):
        raise ValueError("jpeg_prog_ac: coef must be contiguous (n_units, 64) int64")
    if not 0 <= ss <= se <= 63:
        raise ValueError("jpeg_prog_ac: bad spectral band")
    raw = np.frombuffer(buf, np.uint8)
    rc = lib.jpeg_prog_ac(
        ctypes.c_void_p(raw.ctypes.data),
        len(raw),
        int(pos),
        ctypes.c_void_p(mincode.ctypes.data),
        ctypes.c_void_p(maxcode.ctypes.data),
        ctypes.c_void_p(valptr.ctypes.data),
        ctypes.c_void_p(huffval.ctypes.data),
        int(n_units),
        int(restart_interval),
        int(ss),
        int(se),
        int(ah),
        int(al),
        ctypes.c_void_p(coef.ctypes.data),
    )
    _jpeg_check(rc)
    return coef


def _ptr(a: np.ndarray) -> ctypes.c_void_p:
    return ctypes.c_void_p(a.ctypes.data)


def hash_strings(
    data: np.ndarray, offsets: np.ndarray, init: int, max_len: int
) -> np.ndarray | None:
    """``hashing.hash_strings`` over raw Arrow string buffers: ``data``
    (uint8) and ``offsets`` (int32 or int64, one more than the strings,
    already sliced to the array's offset).  Returns one uint64 per
    string, or ``None`` when the kernel is unavailable.  Raises
    ``ValueError`` on offsets outside ``data`` or a negative length."""
    lib = _get()
    if lib is None:
        return None
    if offsets.dtype not in (np.int32, np.int64):
        raise ValueError(f"hash_strings: offsets must be int32 or int64, not {offsets.dtype}")
    data = np.ascontiguousarray(data, np.uint8)
    offsets = np.ascontiguousarray(offsets)
    n = len(offsets) - 1
    if n < 0:
        raise ValueError("hash_strings: offsets is empty")
    # the kernel walks data[offsets[0]:offsets[n]] and checks that the
    # offsets never decrease, so these two bounds keep every read in data
    if n and (offsets[0] < 0 or offsets[n] > len(data)):
        raise ValueError(
            f"hash_strings: offsets span [{offsets[0]}, {offsets[n]}) outside {len(data)} data bytes"
        )
    out = np.empty(n, np.uint64)
    rc = lib.hash_strings_u64(
        _ptr(data), _ptr(offsets), offsets.itemsize, n, init, max_len, _ptr(out)
    )
    if rc:
        raise ValueError(f"hash_strings: string {rc - 1} has a negative length")
    return out


def gram_counts(
    h: np.ndarray, parents: np.ndarray, ngram: int
) -> tuple[np.ndarray, np.ndarray] | None:
    """(distinct n-gram keys, occurrence counts) from per-occurrence
    token hashes ``h`` and their row ``parents`` — the rolling combine
    and same-row guard of ``text._roll_ngrams`` followed by
    ``unique_with_counts``, in one pass and without a sort.  Keys come
    in no particular order.  ``None`` when the kernel is unavailable."""
    lib = _get()
    if lib is None:
        return None
    h = np.ascontiguousarray(h, np.uint64)
    parents = np.ascontiguousarray(parents, np.int64)
    if len(h) != len(parents):
        raise ValueError(f"gram_counts: {len(h)} hashes but {len(parents)} parents")
    if ngram < 1:
        raise ValueError(f"gram_counts: ngram must be >= 1, not {ngram}")
    m = max(len(h) - ngram + 1, 0)
    keys = np.empty(m, np.uint64)
    counts = np.empty(m, np.int64)
    u = lib.gram_counts(_ptr(h), _ptr(parents), len(h), ngram, _ptr(keys), _ptr(counts))
    if u < 0:
        raise MemoryError("gram_counts: out of memory")
    if u == m:
        return keys, counts
    return keys[:u].copy(), counts[:u].copy()


def cmcu_update(
    table: np.ndarray,
    a: np.ndarray,
    b: np.ndarray,
    keys: np.ndarray,
    counts: np.ndarray | None,
    unique: bool,
) -> bool:
    """``CountMinCU``'s batch conservative update of ``table`` (int64,
    ``(depth, 2**k)``) in place.  ``unique`` says the keys are already
    distinct with summed counts (``gram_counts`` output), so the kernel
    skips its own aggregation.  Returns ``False``, having changed
    nothing, when the kernel is unavailable or the input is not uint64
    keys with integer counts; the caller then runs the numpy path."""
    if keys.dtype != np.uint64:
        return False
    if counts is not None and not (
        counts.dtype.kind == "i" or (counts.dtype.kind == "u" and counts.itemsize < 8)
    ):
        return False
    lib = _get()
    if lib is None:
        return False
    depth, width = table.shape
    log2w = width.bit_length() - 1
    if not (
        table.dtype == np.int64
        and table.flags.c_contiguous
        and table.flags.writeable
        and width >= 2
        and width == 1 << log2w
        and a.shape == b.shape == (depth,)
        and a.dtype == b.dtype == np.uint64
    ):
        raise ValueError("cmcu_update: malformed table or hash parameters")
    keys = np.ascontiguousarray(keys)
    if counts is not None:
        if len(counts) != len(keys):
            raise ValueError(f"cmcu_update: {len(keys)} keys but {len(counts)} counts")
        counts = np.ascontiguousarray(counts, np.int64)
    a = np.ascontiguousarray(a)
    b = np.ascontiguousarray(b)
    rc = lib.cmcu_update(
        _ptr(table),
        depth,
        log2w,
        _ptr(a),
        _ptr(b),
        _ptr(keys),
        None if counts is None else _ptr(counts),
        len(keys),
        int(unique),
    )
    if rc:
        raise MemoryError("cmcu_update: out of memory")
    return True
