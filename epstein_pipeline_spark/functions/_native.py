"""Optional compiled fast path for the signature kernels.

The signature stage is the dedup pipeline's dominant cost and both
kernels are tight integer loops over every byte/feature of the corpus
— exactly the "hand whole batches to native code" case of the
optimization playbook (vectorize the per-task work once the job shape
is right). The C implementations below are BIT-EXACT restatements of
the numpy reference paths in ``functions/minhash.py`` /
``functions/simhash.py`` (property-tested against them); every integer
op is exact (uint64 wraparound, Mersenne fold), so there is no
float-order freedom for the two paths to disagree on.

Build contract: compiled lazily with the system ``gcc`` into a
tmpdir cache keyed by the source hash, the machine architecture and
the CPU feature flags (one compile per host type; every Spark python
worker dlopens the cached .so). The object is built ``-march=native``,
so a tmpdir shared across hosts — a network home, a container image
baked on another CPU — must not hand one host's .so to a CPU that
lacks its instructions (SIGILL, not a clean fallback). Any failure — no
compiler, sandboxed tmp, bad flags — degrades to the numpy path with
one ``RuntimeWarning`` naming the cause: ``get_lib()`` returns ``None``
and callers fall back. Nothing outside this module may assume the
library exists.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import platform
import subprocess
import tempfile
import warnings
from pathlib import Path

import numpy as np

# Largest dedup table minhash_batch allocates, in 8-byte slots (8 MB):
# a doc needing more (over 2^19 shingles) takes the no-dedup path,
# which is bit-exact too, so one huge doc never sizes a worker's heap.
MINHASH_SET_MAX_SLOTS = 1 << 20

_C_SRC = f"#define MINHASH_SET_MAX_SLOTS {MINHASH_SET_MAX_SLOTS}ULL\n" + r"""
#include <stdint.h>

static const uint64_t M61 = (((uint64_t)1) << 61) - 1;
static const uint64_t BASE = 1000003ULL;

/* y % (2^61-1) via the Mersenne fold — bit-identical to
   functions/minhash._fold61 for every uint64. */
static inline uint64_t fold61(uint64_t y) {
    uint64_t f = y >> 61;
    y = (y & M61) + f;
    if (y >= M61) y -= M61;
    return y;
}

/* MinHash signatures over char-k byte shingles of utf-8 text.

   data: concatenated utf-8 bytes of all docs in the batch
   offs: n_docs+1 byte offsets into data
   pa/pb: num_perm universal-hash params (a*h+b mod 2^61-1)
   out:  n_docs x num_perm int64 signatures (row-major)

   Exactness contract vs the numpy path (minhash.py):
   - shingle hash = Horner polynomial over bytes mod 2^64, then the
     murmur-style xorshift mix; the rolling update (subtract top term,
     shift, add next byte) is exact in the mod-2^64 ring.
   - duplicate shingles are deduped on the mixed hash x BEFORE the
     permutation loop: min over a multiset equals min over its
     support (np.unique in the numpy path is the same set semantics),
     and the 128 permutations are pure functions of x, so skipping a
     repeated x cannot change any signature slot. Web text repeats
     ~50% of its raw char-5 shingles (measured on the bench corpus),
     so this halves the dominant mul-fold loop. The open-addressing
     probe keys on x itself (already murmur-mixed); UINT64_MAX marks
     empty (x = fold61(..) < 2^61 can never collide with it).
     A doc whose table would exceed MINHASH_SET_MAX_SLOTS skips the
     dedup (dset == NULL): the same signature, by the same argument.
   - n < k: one shingle of the whole text (numpy: k = n).
   - n == 0: every slot = empty_slot. */
#include <stdlib.h>
void minhash_batch(const uint8_t* data, const int64_t* offs, int64_t n_docs,
                   int64_t k, const uint64_t* pa, const uint64_t* pb,
                   int64_t num_perm, uint64_t empty_slot, int64_t* out)
{
    uint64_t* set = 0;
    uint64_t set_cap = 0;
    for (int64_t d = 0; d < n_docs; d++) {
        const uint8_t* b = data + offs[d];
        int64_t n = offs[d + 1] - offs[d];
        uint64_t* o = (uint64_t*)(out + d * num_perm);
        if (n == 0) {
            for (int64_t j = 0; j < num_perm; j++) o[j] = empty_slot;
            continue;
        }
        int64_t kk = k < n ? k : n;
        int64_t n_sh = n - kk + 1;
        uint64_t want = 64;
        while ((int64_t)want < 2 * n_sh) want <<= 1;
        uint64_t* dset = 0;  /* this doc's dedup table; NULL: no dedup */
        if (want <= MINHASH_SET_MAX_SLOTS) {
            if (want > set_cap) {
                free(set);
                set = (uint64_t*)malloc(want * sizeof(uint64_t));
                set_cap = set ? want : 0;
            }
            dset = set;
        }
        uint64_t mask = want - 1;
        if (dset) memset(dset, 0xff, want * sizeof(uint64_t));
        uint64_t top = 1;  /* BASE^(kk-1) mod 2^64 */
        for (int64_t j = 0; j < kk - 1; j++) top *= BASE;
        for (int64_t j = 0; j < num_perm; j++) o[j] = UINT64_MAX;
        uint64_t h = 0;
        for (int64_t j = 0; j < kk; j++) h = h * BASE + b[j];
        for (int64_t i = 0; ; i++) {
            uint64_t x = h;
            x ^= x >> 33; x *= 0xFF51AFD7ED558CCDULL; x ^= x >> 33;
            x = fold61(x);
            int fresh = 1;
            if (dset) {
                uint64_t slot = x & mask;
                for (;;) {
                    uint64_t v = dset[slot];
                    if (v == UINT64_MAX) { dset[slot] = x; break; }
                    if (v == x) { fresh = 0; break; }
                    slot = (slot + 1) & mask;
                }
            }
            if (fresh) {
                for (int64_t j = 0; j < num_perm; j++) {
                    uint64_t y = pa[j] * x + pb[j];
                    y = fold61(y);
                    if (y < o[j]) o[j] = y;
                }
            }
            if (i + kk >= n) break;
            h = (h - b[i] * top) * BASE + b[i + kk];
        }
    }
    free(set);
}

/* ---- BLAKE2b (RFC 7693), digest_size = 8, keyless ----------------
   Must equal hashlib.blake2b(data, digest_size=8).digest() read as a
   little-endian u64 — which is exactly h[0] after finalization. */
#include <string.h>
#include <stdlib.h>

static const uint64_t B2B_IV[8] = {
    0x6a09e667f3bcc908ULL, 0xbb67ae8584caa73bULL,
    0x3c6ef372fe94f82bULL, 0xa54ff53a5f1d36f1ULL,
    0x510e527fade682d1ULL, 0x9b05688c2b3e6c1fULL,
    0x1f83d9abfb41bd6bULL, 0x5be0cd19137e2179ULL,
};

static const uint8_t B2B_SIGMA[12][16] = {
    {0,1,2,3,4,5,6,7,8,9,10,11,12,13,14,15},
    {14,10,4,8,9,15,13,6,1,12,0,2,11,7,5,3},
    {11,8,12,0,5,2,15,13,10,14,3,6,7,1,9,4},
    {7,9,3,1,13,12,11,14,2,6,5,10,4,0,15,8},
    {9,0,5,7,2,4,10,15,14,1,11,12,6,8,3,13},
    {2,12,6,10,0,11,8,3,4,13,7,5,15,14,1,9},
    {12,5,1,15,14,13,4,10,0,7,6,3,9,2,8,11},
    {13,11,7,14,12,1,3,9,5,0,15,4,8,6,2,10},
    {6,15,14,9,11,3,0,8,12,2,13,7,1,4,10,5},
    {10,2,8,4,7,6,1,5,15,11,9,14,3,12,13,0},
    {0,1,2,3,4,5,6,7,8,9,10,11,12,13,14,15},
    {14,10,4,8,9,15,13,6,1,12,0,2,11,7,5,3},
};

#define ROTR64(x, n) (((x) >> (n)) | ((x) << (64 - (n))))
#define B2B_G(a, b, c, d, x, y)                                   \
    do {                                                          \
        a = a + b + (x); d = ROTR64(d ^ a, 32); c = c + d;        \
        b = ROTR64(b ^ c, 24); a = a + b + (y);                   \
        d = ROTR64(d ^ a, 16); c = c + d; b = ROTR64(b ^ c, 63);  \
    } while (0)

static void b2b_compress(uint64_t h[8], const uint8_t block[128],
                         uint64_t t, int last)
{
    uint64_t v[16], m[16];
    memcpy(m, block, 128);  /* little-endian host */
    for (int i = 0; i < 8; i++) { v[i] = h[i]; v[i + 8] = B2B_IV[i]; }
    v[12] ^= t;  /* t_hi = 0: inputs here are far below 2^64 bytes */
    if (last) v[14] = ~v[14];
    for (int r = 0; r < 12; r++) {
        const uint8_t* s = B2B_SIGMA[r];
        B2B_G(v[0], v[4], v[8],  v[12], m[s[0]],  m[s[1]]);
        B2B_G(v[1], v[5], v[9],  v[13], m[s[2]],  m[s[3]]);
        B2B_G(v[2], v[6], v[10], v[14], m[s[4]],  m[s[5]]);
        B2B_G(v[3], v[7], v[11], v[15], m[s[6]],  m[s[7]]);
        B2B_G(v[0], v[5], v[10], v[15], m[s[8]],  m[s[9]]);
        B2B_G(v[1], v[6], v[11], v[12], m[s[10]], m[s[11]]);
        B2B_G(v[2], v[7], v[8],  v[13], m[s[12]], m[s[13]]);
        B2B_G(v[3], v[4], v[9],  v[14], m[s[14]], m[s[15]]);
    }
    for (int i = 0; i < 8; i++) h[i] ^= v[i] ^ v[i + 8];
}

/* first 8 bytes of BLAKE2b(data, digest_size=8), as LE u64 == h[0] */
uint64_t blake2b8(const uint8_t* data, int64_t len)
{
    uint64_t h[8];
    memcpy(h, B2B_IV, sizeof h);
    h[0] ^= 0x01010008ULL;  /* digest_length=8, fanout=1, depth=1 */
    int64_t off = 0;
    while (len - off > 128) {
        b2b_compress(h, data + off, (uint64_t)(off + 128), 0);
        off += 128;
    }
    uint8_t block[128];
    memset(block, 0, sizeof block);
    memcpy(block, data + off, (size_t)(len - off));
    b2b_compress(h, block, (uint64_t)len, 1);
    return h[0];
}

/* ---- SimHash feature extraction ----------------------------------
   Input docs are SINGLE-SPACE separated utf-8 with no leading/
   trailing spaces (the Python caller joins str.split() output), so
   tokenizing on the 0x20 byte reproduces Python token boundaries
   exactly (0x20 cannot occur inside a multi-byte utf-8 sequence).

   Per doc: count unigram token spans and bigram spans (token i
   through token i+1 — contiguous, single space included, which IS
   the "t1 t2" feature string) in an open-addressing span map, then
   emit (blake2b8(span), count) per unique feature. A batch-level
   memo keyed by the span bytes amortizes blake2b over web text's
   cross-document token reuse; when it fills past 3/4 it degrades to
   direct hashing (correctness unaffected).

   out_hash/out_count capacity must be >= total bytes + n_docs
   (features per doc = 2*n_tokens-1 <= doc length). Returns 0, or -1
   on allocation failure / capacity overflow (caller falls back). */

typedef struct { int64_t off; int64_t len; uint64_t b2b; } memo_ent;

static inline uint64_t span_fnv(const uint8_t* p, int64_t n)
{
    uint64_t h = 0xcbf29ce484222325ULL;
    for (int64_t i = 0; i < n; i++) { h ^= p[i]; h *= 0x100000001b3ULL; }
    return h;
}

int simhash_features(const uint8_t* data, const int64_t* offs, int64_t n_docs,
                     uint64_t* out_hash, int64_t* out_count,
                     int64_t* out_nfeat, int64_t cap_feats)
{
    /* batch memo sized to total bytes / 8 (≈ token count), power of 2 */
    int64_t total = offs[n_docs] - offs[0];
    uint64_t mcap = 1024;
    while ((int64_t)mcap < total / 4 && mcap < (1ULL << 23)) mcap <<= 1;
    memo_ent* memo = (memo_ent*)calloc(mcap, sizeof(memo_ent));
    uint64_t mmask = mcap - 1, mused = 0, mlimit = mcap - mcap / 4;

    /* per-doc scratch, grown as needed */
    int64_t tok_cap = 4096;
    int64_t* tok_s = (int64_t*)malloc(tok_cap * sizeof(int64_t));
    int64_t* tok_e = (int64_t*)malloc(tok_cap * sizeof(int64_t));
    int64_t map_cap = 8192;  /* power of two */
    int64_t* m_first = (int64_t*)malloc(map_cap * sizeof(int64_t));
    /* parallel arrays indexed by insertion order (f_hv caches the
       span's fnv so the memo probe below never rescans the bytes) */
    int64_t* f_off = (int64_t*)malloc(cap_feats > 0 ? cap_feats * sizeof(int64_t) : 8);
    int64_t* f_len = (int64_t*)malloc(cap_feats > 0 ? cap_feats * sizeof(int64_t) : 8);
    uint64_t* f_hv = (uint64_t*)malloc(cap_feats > 0 ? cap_feats * sizeof(uint64_t) : 8);
    if (!memo || !tok_s || !tok_e || !m_first || !f_off || !f_len || !f_hv) {
        free(memo); free(tok_s); free(tok_e); free(m_first);
        free(f_off); free(f_len); free(f_hv);
        return -1;
    }

    int64_t out_pos = 0;
    int rc = 0;
    for (int64_t d = 0; d < n_docs && rc == 0; d++) {
        const int64_t base = offs[d];
        const int64_t n = offs[d + 1] - base;
        if (n == 0) { out_nfeat[d] = 0; continue; }
        /* tokenize on single spaces */
        int64_t ntok = 0;
        int64_t s = 0;
        for (int64_t i = 0; i <= n; i++) {
            if (i == n || data[base + i] == 0x20) {
                if (ntok == tok_cap) {
                    tok_cap *= 2;
                    tok_s = (int64_t*)realloc(tok_s, tok_cap * sizeof(int64_t));
                    tok_e = (int64_t*)realloc(tok_e, tok_cap * sizeof(int64_t));
                    if (!tok_s || !tok_e) { rc = -1; break; }
                }
                tok_s[ntok] = s; tok_e[ntok] = i; ntok++;
                s = i + 1;
            }
        }
        if (rc) break;
        int64_t max_feats = 2 * ntok;  /* unigrams + bigrams (+1 slack) */
        while (map_cap < 2 * max_feats) {
            map_cap *= 2;
            m_first = (int64_t*)realloc(m_first, map_cap * sizeof(int64_t));
            if (!m_first) { rc = -1; break; }
        }
        if (rc) break;
        if (out_pos + max_feats > cap_feats) { rc = -1; break; }
        memset(m_first, 0xff, map_cap * sizeof(int64_t));  /* -1 = empty */
        const int64_t mask = map_cap - 1;
        int64_t nuniq = 0;
        uint64_t* doc_hash = out_hash + out_pos;
        int64_t* doc_count = out_count + out_pos;
        for (int64_t i = 0; i < 2 * ntok - 1; i++) {
            /* even i: unigram i/2; odd i: bigram (i/2, i/2+1) */
            int64_t fo, fl;
            if ((i & 1) == 0) { fo = tok_s[i >> 1]; fl = tok_e[i >> 1] - fo; }
            else { fo = tok_s[i >> 1]; fl = tok_e[(i >> 1) + 1] - fo; }
            const uint8_t* fp = data + base + fo;
            uint64_t hv = span_fnv(fp, fl);
            uint64_t slot = hv & (uint64_t)mask;
            for (;;) {
                int64_t idx = m_first[slot];
                if (idx < 0) {
                    m_first[slot] = nuniq;
                    f_off[nuniq] = base + fo; f_len[nuniq] = fl;
                    f_hv[nuniq] = hv;
                    doc_count[nuniq] = 1;
                    nuniq++;
                    break;
                }
                if (f_len[idx] == fl &&
                    memcmp(data + f_off[idx], fp, (size_t)fl) == 0) {
                    doc_count[idx]++;
                    break;
                }
                slot = (slot + 1) & (uint64_t)mask;
            }
        }
        /* blake2b per unique feature, via the batch memo */
        for (int64_t u = 0; u < nuniq; u++) {
            const uint8_t* fp = data + f_off[u];
            const int64_t fl = f_len[u];
            uint64_t hv = f_hv[u];
            uint64_t slot = hv & mmask;
            uint64_t b2 = 0; int found = 0;
            if (mused < mlimit) {
                for (;;) {
                    memo_ent* e = &memo[slot];
                    if (e->len == 0) {
                        b2 = blake2b8(fp, fl);
                        e->off = f_off[u]; e->len = fl; e->b2b = b2;
                        mused++;
                        found = 1;
                        break;
                    }
                    if (e->len == fl &&
                        memcmp(data + e->off, fp, (size_t)fl) == 0) {
                        b2 = e->b2b; found = 1; break;
                    }
                    slot = (slot + 1) & mmask;
                }
            }
            if (!found) b2 = blake2b8(fp, fl);
            doc_hash[u] = b2;
        }
        out_nfeat[d] = nuniq;
        out_pos += nuniq;
    }
    free(memo); free(tok_s); free(tok_e); free(m_first);
    free(f_off); free(f_len); free(f_hv);
    return rc;
}

/* ---- ASCII extract/clean/normalize chain -------------------------
   Byte-exact restatement of the py_extract_text ->
   py_clean_ocr_noise -> py_normalize_text regex chain
   (functions/text.py) for PURE-ASCII inputs. For ASCII, every regex
   involved has plain byte-automaton semantics: (?i) is A-Z folding,
   str \s / str.split() / str.strip() are the 6 ASCII whitespace
   bytes, '.' is any-byte-but-\n, and utf-8 decode is the identity.
   Non-ASCII inputs never reach these functions (the python wrapper
   gates on bytes.isascii() and falls back to the re twins, which
   remain the spec). Each pass scans its INPUT and emits to the
   output buffer exactly like re.sub / str.replace: left-to-right,
   non-overlapping, no rescani­ng of produced text. */

static inline int aws(uint8_t c) {
    return c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == 0x0b || c == 0x0c;
}
static inline uint8_t lcb(uint8_t c) { return (c >= 'A' && c <= 'Z') ? c + 32 : c; }

static int pfx_ci(const uint8_t* s, int64_t n, int64_t i, const char* name) {
    int64_t L = 0;
    while (name[L]) L++;
    if (i + L > n) return 0;
    for (int64_t j = 0; j < L; j++)
        if (lcb(s[i + j]) != (uint8_t)name[j]) return 0;
    return (int)L;
}

/* memcpy the stretch up to the next occurrence of byte c (or the end);
   returns the index of that occurrence, or n. The pass loops below are
   all "copy verbatim until the next interesting byte" — glibc's SIMD
   memchr makes that stretch ~10x cheaper than a byte loop. */
static inline int64_t skip_to(const uint8_t* s, int64_t n, int64_t i,
                              uint8_t c, uint8_t* d, int64_t* o) {
    const uint8_t* p = (const uint8_t*)memchr(s + i, c, (size_t)(n - i));
    int64_t j = p ? (int64_t)(p - s) : n;
    memcpy(d + *o, s + i, (size_t)(j - i));
    *o += j - i;
    return j;
}

/* (?is)<(script|style|nav|header|footer|title)[^>]*>.*?</\1>  ->  "" */
static int64_t p_script(const uint8_t* s, int64_t n, uint8_t* d) {
    static const char* tags[6] = {"script", "style", "nav", "header", "footer", "title"};
    int64_t o = 0, i = 0;
    while (i < n) {
        i = skip_to(s, n, i, '<', d, &o);
        if (i >= n) break;
        int L = 0, ti = -1;
        for (int t = 0; t < 6; t++) {
            L = pfx_ci(s, n, i + 1, tags[t]);
            if (L) { ti = t; break; }  /* names are prefix-disjoint */
        }
        if (ti >= 0) {
            int64_t k = i + 1 + L;
            const uint8_t* g = (const uint8_t*)memchr(s + k, '>', (size_t)(n - k));
            k = g ? (int64_t)(g - s) : n;       /* [^>]* then '>' */
            if (k < n) {
                int64_t m = k + 1, close = -1;  /* lazy .*? : first close */
                while (m + L + 3 <= n) {
                    const uint8_t* p =
                        (const uint8_t*)memchr(s + m, '<', (size_t)(n - m));
                    if (!p) break;
                    m = (int64_t)(p - s);
                    if (m + L + 3 > n) break;
                    if (s[m + 1] == '/' && pfx_ci(s, n, m + 2, tags[ti]) &&
                        s[m + 2 + L] == '>') {
                        close = m;
                        break;
                    }
                    m++;
                }
                if (close >= 0) { i = close + L + 3; continue; }
            }
        }
        d[o++] = s[i++];
    }
    return o;
}

/* (?i)</(p|div|h[1-6]|li|tr)>  ->  "\n" */
static int64_t p_block(const uint8_t* s, int64_t n, uint8_t* d) {
    /* alternation order is irrelevant here: first letters are all
       distinct, so at most one name can match at a position */
    static const char* tags[4] = {"p", "div", "li", "tr"};
    int64_t o = 0, i = 0;
    while (i < n) {
        i = skip_to(s, n, i, '<', d, &o);
        if (i >= n) break;
        if (i + 1 < n && s[i + 1] == '/') {
            int L = 0;
            for (int t = 0; t < 4; t++) {
                L = pfx_ci(s, n, i + 2, tags[t]);
                if (L) break;
            }
            if (!L && i + 3 < n && lcb(s[i + 2]) == 'h' && s[i + 3] >= '1' && s[i + 3] <= '6')
                L = 2;
            if (L && i + 2 + L < n && s[i + 2 + L] == '>') {
                d[o++] = '\n';
                i += 3 + L;
                continue;
            }
        }
        d[o++] = s[i++];
    }
    return o;
}

/* (?s)<[^>]+>  ->  "" */
static int64_t p_tag(const uint8_t* s, int64_t n, uint8_t* d) {
    int64_t o = 0, i = 0;
    while (i < n) {
        i = skip_to(s, n, i, '<', d, &o);
        if (i >= n) break;
        const uint8_t* g = (const uint8_t*)memchr(s + i + 1, '>', (size_t)(n - i - 1));
        int64_t k = g ? (int64_t)(g - s) : n;
        if (k < n && k > i + 1) { i = k + 1; continue; }
        d[o++] = s[i++];
    }
    return o;
}

/* str.replace(pat, rep), rep never longer than pat */
static int64_t p_repl(const uint8_t* s, int64_t n, uint8_t* d,
                      const char* pat, const char* rep) {
    int64_t pl = 0, rl = 0, o = 0, i = 0;
    while (pat[pl]) pl++;
    while (rep[rl]) rl++;
    while (i < n) {
        i = skip_to(s, n, i, (uint8_t)pat[0], d, &o);
        if (i >= n) break;
        if (i + pl <= n && memcmp(s + i, pat, (size_t)pl) == 0) {
            memcpy(d + o, rep, (size_t)rl);
            o += rl;
            i += pl;
        } else
            d[o++] = s[i++];
    }
    return o;
}

/* [ \t]+ -> " " */
static int64_t p_sptab(const uint8_t* s, int64_t n, uint8_t* d) {
    int64_t o = 0, i = 0;
    while (i < n) {
        if (s[i] == ' ' || s[i] == '\t') {
            d[o++] = ' ';
            while (i < n && (s[i] == ' ' || s[i] == '\t')) i++;
        } else
            d[o++] = s[i++];
    }
    return o;
}

/* " ?\n ?" -> "\n" (greedy optionals, scan continues after match) */
static int64_t p_nltrim(const uint8_t* s, int64_t n, uint8_t* d) {
    int64_t o = 0, i = 0;
    while (i < n) {
        if (s[i] == ' ' && i + 1 < n && s[i + 1] == '\n') {
            d[o++] = '\n';
            i += 2;
            if (i < n && s[i] == ' ') i++;
        } else if (s[i] == '\n') {
            d[o++] = '\n';
            i++;
            if (i < n && s[i] == ' ') i++;
        } else
            d[o++] = s[i++];
    }
    return o;
}

/* \n{min_run,} -> "\n\n" */
static int64_t p_nlcap(const uint8_t* s, int64_t n, uint8_t* d, int64_t min_run) {
    int64_t o = 0, i = 0;
    while (i < n) {
        i = skip_to(s, n, i, '\n', d, &o);
        if (i >= n) break;
        int64_t r = 0;
        while (i + r < n && s[i + r] == '\n') r++;
        int64_t emit = r >= min_run ? 2 : r;
        for (int64_t j = 0; j < emit; j++) d[o++] = '\n';
        i += r;
    }
    return o;
}

/* [\x00-\x08\x0b\x0c\x0e-\x1f] -> "" */
static int64_t p_ctrl(const uint8_t* s, int64_t n, uint8_t* d) {
    int64_t o = 0;
    for (int64_t i = 0; i < n; i++) {
        uint8_t c = s[i];
        if (c <= 0x08 || c == 0x0b || c == 0x0c || (c >= 0x0e && c <= 0x1f)) continue;
        d[o++] = c;
    }
    return o;
}

/* (.)\1{9,} -> three copies ('.' excludes \n) */
static int64_t p_repeat(const uint8_t* s, int64_t n, uint8_t* d) {
    int64_t o = 0, i = 0;
    while (i < n) {
        int64_t r = 1;
        while (i + r < n && s[i + r] == s[i]) r++;
        int64_t emit = (r >= 10 && s[i] != '\n') ? 3 : r;
        for (int64_t j = 0; j < emit; j++) d[o++] = s[i];
        i += r;
    }
    return o;
}

/* (?m)^[\s\-_=~.*#]{4,}$ -> "" (class includes \n, so one match can
   swallow several rule lines; greedy with $-backtracking) */
static inline int rulec(uint8_t c) {
    return aws(c) || c == '-' || c == '_' || c == '=' || c == '~' ||
           c == '.' || c == '*' || c == '#';
}
static int64_t p_rule(const uint8_t* s, int64_t n, uint8_t* d) {
    int64_t o = 0, i = 0;
    /* invariant: i is at a line start on loop entry */
    while (i < n) {
        if (rulec(s[i])) {
            int64_t e = i;
            while (e < n && rulec(s[e])) e++;
            int64_t m = -1;
            if (e - i >= 4) {
                if (e == n)
                    m = n;          /* $ matches at end of string */
                else {
                    /* s[e] is non-class (hence != '\n'); backtrack to
                       the largest end position followed by '\n' */
                    for (int64_t q = e - 1; q >= i + 4; q--)
                        if (s[q] == '\n') { m = q; break; }
                }
            }
            if (m >= n) break;      /* matched through EOS */
            if (m >= 0) {
                d[o++] = '\n';      /* match deleted; s[m] survives */
                i = m + 1;          /* next line start */
                continue;
            }
        }
        /* no match on this line: copy through its '\n' (or to EOS) */
        {
            const uint8_t* p = (const uint8_t*)memchr(s + i, '\n', (size_t)(n - i));
            int64_t j = p ? (int64_t)(p - s) + 1 : n;
            memcpy(d + o, s + i, (size_t)(j - i));
            o += j - i;
            i = j;
        }
    }
    return o;
}

/* lower + \s+ -> " " + strip, one pass */
static int64_t p_norm(const uint8_t* s, int64_t n, uint8_t* d) {
    int64_t o = 0, i = 0;
    int pend = 0;
    while (i < n && aws(s[i])) i++;
    for (; i < n; i++) {
        if (aws(s[i]))
            pend = 1;
        else {
            if (pend) { d[o++] = ' '; pend = 0; }
            d[o++] = lcb(s[i]);
        }
    }
    return o;
}

/* Full chain per doc; every pass shrinks, so scratch buffers of the
   input length suffice. ext/norm outputs land at the doc's INPUT
   offset in ext_buf/norm_buf (callers slice by the returned lengths). */
void extract_chain_batch(const uint8_t* data, const int64_t* offs, int64_t n_docs,
                         uint8_t* ext_buf, int64_t* ext_len,
                         uint8_t* norm_buf, int64_t* norm_len,
                         uint8_t* sa, uint8_t* sb)
{
    static const char* ents[6][2] = {
        {"&lt;", "<"}, {"&gt;", ">"}, {"&quot;", "\""},
        {"&#39;", "'"}, {"&nbsp;", " "}, {"&amp;", "&"},
    };
    for (int64_t di = 0; di < n_docs; di++) {
        const uint8_t* src = data + offs[di];
        int64_t n = offs[di + 1] - offs[di];
        int64_t la = p_script(src, n, sa);
        int64_t lb = p_block(sa, la, sb);
        la = p_tag(sb, lb, sa);
        /* entities: six sequential full passes, order fixed (&amp; last) */
        lb = p_repl(sa, la, sb, ents[0][0], ents[0][1]);
        la = p_repl(sb, lb, sa, ents[1][0], ents[1][1]);
        lb = p_repl(sa, la, sb, ents[2][0], ents[2][1]);
        la = p_repl(sb, lb, sa, ents[3][0], ents[3][1]);
        lb = p_repl(sa, la, sb, ents[4][0], ents[4][1]);
        la = p_repl(sb, lb, sa, ents[5][0], ents[5][1]);
        lb = p_sptab(sa, la, sb);
        la = p_nltrim(sb, lb, sa);
        lb = p_nlcap(sa, la, sb, 2);
        /* strip -> extracted_text. Python str.strip() also strips the
           \x1c-\x1f separators (Py_UNICODE_ISSPACE); later passes
           never see them (the ctrl pass deletes them), so this strip
           is the ONLY place they need handling. */
        int64_t lo = 0, hi = lb;
        while (lo < hi && (aws(sb[lo]) || (sb[lo] >= 0x1c && sb[lo] <= 0x1f))) lo++;
        while (hi > lo && (aws(sb[hi - 1]) || (sb[hi - 1] >= 0x1c && sb[hi - 1] <= 0x1f)))
            hi--;
        int64_t le = hi - lo;
        memcpy(ext_buf + offs[di], sb + lo, (size_t)le);
        ext_len[di] = le;
        /* clean_ocr_noise on the stripped text */
        la = p_ctrl(sb + lo, le, sa);
        lb = p_repeat(sa, la, sb);
        la = p_rule(sb, lb, sa);
        lb = p_nlcap(sa, la, sb, 3);
        /* normalize -> text */
        norm_len[di] = p_norm(sb, lb, norm_buf + offs[di]);
    }
}

/* SimHash bit accumulation over (feature-hash, integer-weight) rows.

   hs/ws: concatenated per-doc feature hashes and fixed-point weights
   offs:  n_docs+1 offsets into hs/ws
   out:   n_docs int64 signatures

   acc[j] = sum over features of (bit j of hash ? +w : -w), exact
   int64 arithmetic (order-independent by construction); bit j of the
   signature is set iff acc[j] > 0. Empty feature range -> 0. */
void simhash_batch(const uint64_t* hs, const int64_t* ws, const int64_t* offs,
                   int64_t n_docs, int64_t* out)
{
    for (int64_t d = 0; d < n_docs; d++) {
        int64_t acc[64];
        for (int j = 0; j < 64; j++) acc[j] = 0;
        for (int64_t f = offs[d]; f < offs[d + 1]; f++) {
            uint64_t h = hs[f];
            int64_t w = ws[f];
            for (int j = 0; j < 64; j++) {
                /* bit ? +w : -w, branchless */
                int64_t m = (int64_t)((h >> j) & 1) - 1;
                acc[j] += (w ^ m) - m;
            }
        }
        uint64_t sim = 0;
        for (int j = 0; j < 64; j++)
            if (acc[j] > 0) sim |= ((uint64_t)1) << j;
        out[d] = (int64_t)sim;
    }
}
"""

_LIB = None
_TRIED = False


def _cpu_flags() -> str:
    """The first ``flags`` line of /proc/cpuinfo ('' where there is
    none): the instruction-set extensions ``-march=native`` may use."""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("flags"):
                    return line.split(":", 1)[-1].strip()
    except OSError:
        pass
    return ""


def _build_dir(machine: str, cpu_flags: str) -> Path:
    """Cache directory of the compiled library for one source text on
    one host type (machine architecture + CPU feature flags)."""
    key = hashlib.sha256(
        "\0".join((_C_SRC, machine, cpu_flags)).encode()
    ).hexdigest()[:16]
    return Path(tempfile.gettempdir()) / f"eps-native-{key}"


def get_lib():
    """Compile-once, dlopen-cached handle to the kernel library, or
    ``None`` when native compilation is unavailable (callers must fall
    back to the numpy paths)."""
    global _LIB, _TRIED
    if _TRIED:
        return _LIB
    _TRIED = True
    try:
        d = _build_dir(platform.machine(), _cpu_flags())
        so = d / "libepsnative.so"
        if not so.exists():
            d.mkdir(parents=True, exist_ok=True)
            import fcntl

            with open(d / ".lock", "w") as lk:
                fcntl.flock(lk, fcntl.LOCK_EX)
                if not so.exists():
                    csrc = d / "epsnative.c"
                    csrc.write_text(_C_SRC)
                    tmp = d / f".build-{os.getpid()}.so"
                    subprocess.run(
                        ["gcc", "-O3", "-march=native", "-shared", "-fPIC",
                         "-o", str(tmp), str(csrc)],
                        check=True, capture_output=True, timeout=120,
                    )
                    os.replace(tmp, so)
        lib = ctypes.CDLL(str(so))
        u8p = ctypes.POINTER(ctypes.c_uint8)
        i64p = ctypes.POINTER(ctypes.c_int64)
        u64p = ctypes.POINTER(ctypes.c_uint64)
        lib.minhash_batch.argtypes = [
            u8p, i64p, ctypes.c_int64, ctypes.c_int64, u64p, u64p,
            ctypes.c_int64, ctypes.c_uint64, i64p,
        ]
        lib.minhash_batch.restype = None
        lib.simhash_batch.argtypes = [u64p, i64p, i64p, ctypes.c_int64, i64p]
        lib.simhash_batch.restype = None
        lib.blake2b8.argtypes = [u8p, ctypes.c_int64]
        lib.blake2b8.restype = ctypes.c_uint64
        lib.simhash_features.argtypes = [
            u8p, i64p, ctypes.c_int64, u64p, i64p, i64p, ctypes.c_int64,
        ]
        lib.simhash_features.restype = ctypes.c_int
        lib.extract_chain_batch.argtypes = [
            u8p, i64p, ctypes.c_int64, u8p, i64p, u8p, i64p, u8p, u8p,
        ]
        lib.extract_chain_batch.restype = None
        _LIB = lib
    except Exception as e:
        detail = getattr(e, "stderr", None) or b""
        warnings.warn(
            "native kernels unavailable, falling back to the Python paths: "
            f"{e!r} {detail.decode(errors='replace')[-500:]}".rstrip(),
            RuntimeWarning,
            stacklevel=2,
        )
        _LIB = None
    return _LIB


def _as_ptr(arr: np.ndarray, ctype):
    return arr.ctypes.data_as(ctypes.POINTER(ctype))


def minhash_batch(enc: list[bytes], k: int, a: np.ndarray, b: np.ndarray,
                  empty_slot: int) -> np.ndarray | None:
    """(n_docs, num_perm) int64 signatures for a batch of utf-8 encoded
    docs, or None when the native library is unavailable."""
    lib = get_lib()
    if lib is None:
        return None
    n = len(enc)
    num_perm = a.shape[0]
    data = b"".join(enc)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.fromiter((len(e) for e in enc), np.int64, n), out=offs[1:])
    buf = np.frombuffer(data, dtype=np.uint8) if data else np.empty(0, np.uint8)
    out = np.empty((n, num_perm), dtype=np.int64)
    lib.minhash_batch(
        _as_ptr(buf, ctypes.c_uint8), _as_ptr(offs, ctypes.c_int64),
        n, k, _as_ptr(a, ctypes.c_uint64), _as_ptr(b, ctypes.c_uint64),
        num_perm, ctypes.c_uint64(empty_slot), _as_ptr(out, ctypes.c_int64),
    )
    return out


def blake2b8(data: bytes) -> int | None:
    """Test hook: C blake2b8 of raw bytes (None without the library)."""
    lib = get_lib()
    if lib is None:
        return None
    buf = np.frombuffer(data, dtype=np.uint8) if data else np.empty(1, np.uint8)
    return int(lib.blake2b8(_as_ptr(buf, ctypes.c_uint8), len(data)))


def simhash_features(enc: list[bytes]) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
    """Per-doc unique (feature-hash, count) rows for single-space
    separated utf-8 docs. Returns (hashes, counts, offsets) with
    offsets of length n_docs+1, or None when unavailable."""
    lib = get_lib()
    if lib is None:
        return None
    n = len(enc)
    data = b"".join(enc)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.fromiter((len(e) for e in enc), np.int64, n), out=offs[1:])
    buf = np.frombuffer(data, dtype=np.uint8) if data else np.empty(1, np.uint8)
    cap = len(data) + n + 1
    out_hash = np.empty(cap, dtype=np.uint64)
    out_count = np.empty(cap, dtype=np.int64)
    nfeat = np.zeros(n, dtype=np.int64)
    rc = lib.simhash_features(
        _as_ptr(buf, ctypes.c_uint8), _as_ptr(offs, ctypes.c_int64), n,
        _as_ptr(out_hash, ctypes.c_uint64), _as_ptr(out_count, ctypes.c_int64),
        _as_ptr(nfeat, ctypes.c_int64), cap,
    )
    if rc != 0:
        return None
    fo = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(nfeat, out=fo[1:])
    tot = int(fo[-1])
    return out_hash[:tot], out_count[:tot], fo


def extract_chain(enc: list[bytes]) -> tuple[list[bytes], list[bytes]] | None:
    """(extracted_text, normalized_text) bytes per PURE-ASCII doc via
    the compiled chain, or None when the library is unavailable.
    Callers must pre-check ``bytes.isascii()`` — non-ASCII inputs go
    through the python re twins (the spec)."""
    lib = get_lib()
    if lib is None:
        return None
    n = len(enc)
    data = b"".join(enc)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.fromiter((len(e) for e in enc), np.int64, n), out=offs[1:])
    total = len(data)
    buf = np.frombuffer(data, dtype=np.uint8) if data else np.empty(1, np.uint8)
    ext_buf = np.empty(max(total, 1), dtype=np.uint8)
    norm_buf = np.empty(max(total, 1), dtype=np.uint8)
    ext_len = np.zeros(n, dtype=np.int64)
    norm_len = np.zeros(n, dtype=np.int64)
    maxlen = max((len(e) for e in enc), default=0)
    sa = np.empty(max(maxlen, 1), dtype=np.uint8)
    sb = np.empty(max(maxlen, 1), dtype=np.uint8)
    lib.extract_chain_batch(
        _as_ptr(buf, ctypes.c_uint8), _as_ptr(offs, ctypes.c_int64), n,
        _as_ptr(ext_buf, ctypes.c_uint8), _as_ptr(ext_len, ctypes.c_int64),
        _as_ptr(norm_buf, ctypes.c_uint8), _as_ptr(norm_len, ctypes.c_int64),
        _as_ptr(sa, ctypes.c_uint8), _as_ptr(sb, ctypes.c_uint8),
    )
    ebytes = ext_buf.tobytes()
    nbytes = norm_buf.tobytes()
    ext = [ebytes[offs[i]:offs[i] + ext_len[i]] for i in range(n)]
    norm = [nbytes[offs[i]:offs[i] + norm_len[i]] for i in range(n)]
    return ext, norm


def simhash_batch(hs: np.ndarray, ws: np.ndarray, offs: np.ndarray) -> np.ndarray | None:
    """int64 SimHash per doc from concatenated (hash, weight) feature
    rows, or None when the native library is unavailable."""
    lib = get_lib()
    if lib is None:
        return None
    n = offs.shape[0] - 1
    out = np.empty(n, dtype=np.int64)
    if hs.shape[0] == 0:
        hs = np.empty(1, np.uint64)
        ws = np.empty(1, np.int64)
    lib.simhash_batch(
        _as_ptr(hs, ctypes.c_uint64), _as_ptr(ws, ctypes.c_int64),
        _as_ptr(offs, ctypes.c_int64), n, _as_ptr(out, ctypes.c_int64),
    )
    return out
