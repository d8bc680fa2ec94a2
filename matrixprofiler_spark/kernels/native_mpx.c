/* Native kernels (compiled on demand by native.py): the MPX whole-kernel
 * driver, the distributed-MP tile minima and the Gorilla/DoD encoders.
 *
 * The MPX functions replicate the EXACT FP op sequence of the numpy
 * reference path in kernels/mp.py::mpx — same products, same sequential
 * add order, same (cc * sig) * sg association — so results are
 * bit-identical (each kernel is refused unless its first-use byte-equality
 * self-test against numpy passes; ffp-contract=off forbids FMA fusion).
 *
 * Layouts (see mp.py::mpx):
 *   A[2k]   = df[k],  A[2k+1] = dg[k]          (interleaved cross factors)
 *   Z[2j]   = dg_padded[j], Z[2j+1] = df_padded[j]
 * Row i of a batch covers diagonal d0+i; its term stream is
 *   t1_k = A[2k]   * Z[2*(d0+i) + 2k]
 *   t2_k = A[2k+1] * Z[2*(d0+i) + 2k+1]
 * and the correlation path is the running sum cc0 + t1_0 + t2_0 + t1_1 ...
 * observed after each t2 (the reference's two-add loop, src/mpx.cpp:944).
 *
 * Rows are processed in groups of W (8, then 4, then 1) with one
 * accumulator per row, so W independent serial add chains hide FP add
 * latency and one pass over the A/sig/sgp streams serves W diagonals;
 * per-row op order is untouched (only instruction scheduling ACROSS
 * independent rows changes, which cannot affect any row's bits).
 */
#include <stddef.h>

/* Each group body is written once with its width W as a parameter; every
 * call site passes a literal, so after forced inlining W is a
 * compile-time constant and the j-loops unroll into W named accumulators
 * (the unroll pragma makes that hold at -O2 too). */
#define INLINE static inline __attribute__((always_inline))

INLINE void fused_group(const double *A, const double *Z, const double *sig,
                        const double *sgp, const double *cc0, double *c_all,
                        long maxoff, long d, long ldc, const int W)
{
    const double *z = Z + 2 * d;
    const double *g = sgp + d;
    double a[8];
#pragma GCC unroll 8
    for (int j = 0; j < W; j++)
        a[j] = cc0[j];
    for (long k = 0; k < maxoff; k++) {
        double f1 = A[2 * k], f2 = A[2 * k + 1];
        double s = sig[k];
#pragma GCC unroll 8
        for (int j = 0; j < W; j++)
            a[j] += f1 * z[2 * j + 2 * k];
#pragma GCC unroll 8
        for (int j = 0; j < W; j++)
            a[j] += f2 * z[2 * j + 2 * k + 1];
#pragma GCC unroll 8
        for (int j = 0; j < W; j++)
            c_all[j * ldc + k] = (a[j] * s) * g[k + j];
    }
}

/* The 8-wide groups halve the stream bytes per pair against 4-wide: no
 * gain single-thread (four chains already hide the add latency), but the
 * 32-worker aggregate is stream-bandwidth-bound (measured: per-core rate
 * drops 748 -> 573M pairs/s from 1 to 32 processes at 4-wide). */
static void mpx_fused(const double *A, const double *Z, const double *sig,
                      const double *sgp, const double *cc0, double *c_all,
                      long B, long maxoff, long d0, long ldc)
{
    long i = 0;
    for (; i + 8 <= B; i += 8)
        fused_group(A, Z, sig, sgp, cc0 + i, c_all + i * ldc, maxoff,
                    d0 + i, ldc, 8);
    for (; i + 4 <= B; i += 4)
        fused_group(A, Z, sig, sgp, cc0 + i, c_all + i * ldc, maxoff,
                    d0 + i, ldc, 4);
    for (; i < B; i++)
        fused_group(A, Z, sig, sgp, cc0 + i, c_all + i * ldc, maxoff,
                    d0 + i, ldc, 1);
}

/* Sequential per-diagonal max-merge, exact reference order: rows ascending,
 * offsets ascending, the off_diag (cand2) write before the offset (cand1)
 * comparison, strict > (NaN never updates). Equivalent to the numpy path's
 * two vectorized passes per row: cand2 writes for a position always land
 * strictly before the cand1 comparison at that position (step k-diag < k),
 * and positions within one pass are distinct. 1-based candidate indexes.
 * Kept out of line: inlined into mpx_full, the -O2 build ran ~12% slower
 * (interleaved single-thread A/B). */
__attribute__((noinline))
static void mpx_merge(const double *c_all, double *mp, int *mpi,
                      long B, long plen, long d0, long ldc)
{
    for (long i = 0; i < B; i++) {
        long diag = d0 + i;
        long off_max = plen - diag;
        const double *c = c_all + i * ldc;
        if (mpi) {
            for (long k = 0; k < off_max; k++) {
                double v = c[k];
                if (v > mp[diag + k]) { mp[diag + k] = v; mpi[diag + k] = (int)(k + 1); }
                if (v > mp[k])        { mp[k] = v;        mpi[k] = (int)(k + 1 + diag); }
            }
        } else {
            for (long k = 0; k < off_max; k++) {
                double v = c[k];
                if (v > mp[diag + k]) mp[diag + k] = v;
                if (v > mp[k])        mp[k] = v;
            }
        }
    }
}

/* cc0 for W diagonal rows starting at d: replicates
 *   np.cumsum((x[d:d+w] - mu[d]) * ww, )[-1]
 * exactly — the accumulator is SEEDED with the k=0 product (cumsum's first
 * element is the first term, not 0 + term: 0.0 + (-0.0) would flip the
 * zero's sign), then adds terms in index order. */
INLINE void cc0_group(const double *x, const double *mu, const double *ww,
                      double *out, long w, long d, const int W)
{
    const double *xr = x + d;
    double m[4], a[4];
#pragma GCC unroll 4
    for (int j = 0; j < W; j++) {
        m[j] = mu[d + j];
        a[j] = (xr[j] - m[j]) * ww[0];
    }
    for (long k = 1; k < w; k++) {
        double wk = ww[k];
#pragma GCC unroll 4
        for (int j = 0; j < W; j++)
            a[j] += (xr[k + j] - m[j]) * wk;
    }
#pragma GCC unroll 4
    for (int j = 0; j < W; j++)
        out[j] = a[j];
}

static void mpx_cc0(const double *x, const double *mu, const double *ww,
                    double *cc0_out, long B, long w, long d0)
{
    long i = 0;
    for (; i + 4 <= B; i += 4)
        cc0_group(x, mu, ww, cc0_out + i, w, d0 + i, 4);
    for (; i < B; i++)
        cc0_group(x, mu, ww, cc0_out + i, w, d0 + i, 1);
}

/* Distributed-MP tile kernel: exact row/column partial minima of one
 * na x nb z-norm distance tile over INTEGER token windows, replacing the
 * numpy row-blocked dgemm path in operators/mp_ops.py::_tile_partial_minima
 * with a rolling-QT diagonal traversal.
 *
 * Bit-exactness: integer window dot products below 2^53 are exact in
 * float64 REGARDLESS of summation order, so the rolling update
 *   qt(r+1,c+1) = qt(r,c) + a[r+w]*b[c+w] - a[r]*b[c]      (int64)
 * yields the identical double as the dgemm; the per-element expression
 * tree is copied verbatim from the numpy kernel:
 *   d = 2 * (w - (qt - wmua[r]*mu_b[c]) / (sd_a[r]*sd_b[c])),  max(d, 0)
 * (max never sees NaN on unmasked cells — sd > 0 on both sides — and
 * w - blk of equal finite operands is +0.0, so the ternary matches
 * np.maximum exactly). Masked cells (sd <= 0 rows/cols, exclusion band)
 * become +inf exactly as in the numpy path.
 *
 * Tie rules (match the block kernel + cross-block merge):
 *   row minima: columns visited in ascending order (diagonals ascending),
 *     strict < update -> smallest column among ties;
 *   column minima: rows visited in DESCENDING order for a fixed column,
 *     <= update -> smallest row among ties.
 * Untouched rows keep dmin=+inf / nn=gj0 (numpy's argmin of an all-inf
 * row is 0 -> gj[0]); untouched columns keep dmin_c=+inf / nn_c=0 —
 * byte-identical to the numpy outputs.
 */
/* -O3/-march=native code selection for this loop (blended min-updates)
 * measured SLOWER than the plain -O2 baseline form (244-256M vs 290M
 * pairs/s in an interleaved single-thread A/B); pin the function to O2 at
 * the baseline ISA. Bit-exactness is unaffected either way. */
#pragma GCC push_options
#pragma GCC optimize("O2")
#pragma GCC target("arch=x86-64")
void tile_minima(const long long *a, const long long *b,
                 const double *wmua, const double *mu_b,
                 const double *sd_a, const double *sd_b,
                 const unsigned char *ok_a, const unsigned char *ok_b,
                 long na, long nb, long w, long exclusion, int near_diag,
                 long long gi0, long long gj0,
                 double *dmin, long long *nn,
                 double *dmin_c, long long *nn_c, int both)
{
    const double INF = 1.0 / 0.0;
    const double dw = (double)w;
    long long diag_shift = gi0 - gj0; /* gi[r]-gj[c] = diag_shift + (r-c) */
    for (long r = 0; r < na; r++) { dmin[r] = INF; nn[r] = gj0; }
    if (both)
        for (long c = 0; c < nb; c++) { dmin_c[c] = INF; nn_c[c] = 0; }
    for (long k = -(na - 1); k < nb; k++) {
        long r = (k < 0) ? -k : 0;
        long c = r + k;
        long len_r = na - r, len_c = nb - c;
        long len = (len_r < len_c) ? len_r : len_c;
        long long qt = 0;
        for (long t = 0; t < w; t++)
            qt += a[r + t] * b[c + t];
        long excl_band = (near_diag
                          && (diag_shift + (r - c) <= exclusion)
                          && (-(diag_shift + (r - c)) <= exclusion));
        for (long s = 0; s < len; s++, r++, c++) {
            double d;
            if (!ok_a[r] || !ok_b[c] || excl_band) {
                d = INF;
            } else {
                d = ((double)qt - wmua[r] * mu_b[c]) / (sd_a[r] * sd_b[c]);
                d = (dw - d) * 2.0;
                d = (d > 0.0) ? d : 0.0;
            }
            if (d < dmin[r]) { dmin[r] = d; nn[r] = gj0 + c; }
            /* finite ties -> smaller r replaces (rows visited descending);
             * +inf never claims an index (numpy's cross-block strict <) */
            if (both && (d < dmin_c[c] || (d == dmin_c[c] && d != INF))) {
                dmin_c[c] = d; nn_c[c] = gi0 + r;
            }
            if (s + 1 < len)
                qt += a[r + w] * b[c + w] - a[r] * b[c];
        }
    }
}

#pragma GCC pop_options

/* ---- Bitstream codecs (Gorilla XOR floats / DoD ints) ----------------
 * MSB-first bit writer; identical stream layout to codecs/gorilla.py and
 * codecs/dod.py (byte-for-byte, gated by runtime equality checks there).
 * Each series body is flushed to a byte boundary with zero padding, like
 * the numpy assemblers. */
typedef struct {
    unsigned long long buf;
    int nb;
    unsigned char *p;
} BW;

/* k <= 56: after every flush fewer than 8 bits remain pending, so
 * buf << k cannot overflow 64 bits. 64-bit fields are written as two
 * 32-bit puts. */
static void bw_put(BW *w, unsigned long long bits, int k)
{
    w->buf = (w->buf << k) | bits;
    w->nb += k;
    while (w->nb >= 8) {
        w->nb -= 8;
        *w->p++ = (unsigned char)(w->buf >> w->nb);
    }
}

static void bw_put64(BW *w, unsigned long long bits)
{
    bw_put(w, bits >> 32, 32);
    bw_put(w, bits & 0xffffffffULL, 32);
}

static void bw_flush(BW *w)
{
    if (w->nb) {
        *w->p++ = (unsigned char)((w->buf << (8 - w->nb)) & 0xff);
        w->nb = 0;
        w->buf = 0;
    }
}

/* One Gorilla body (no count header): 64b first value raw, then per value
 * '0' (repeat) or '11' + 5b lz(capped 31) + 6b (siglen-1) + meaningful.
 * Matches codecs/gorilla.py::gorilla_encode exactly (the encoder always
 * takes the '11' branch). */
static long long gorilla_body(const unsigned long long *v, long n,
                              unsigned char *out)
{
    BW w = {0, 0, out};
    bw_put64(&w, v[0]);
    unsigned long long prev = v[0];
    for (long i = 1; i < n; i++) {
        unsigned long long x = v[i] ^ prev;
        prev = v[i];
        if (!x) {
            bw_put(&w, 0, 1);
            continue;
        }
        int lz = __builtin_clzll(x);
        if (lz > 31)
            lz = 31;
        int tz = __builtin_ctzll(x);
        int siglen = 64 - lz - tz;
        bw_put(&w, 3, 2);
        bw_put(&w, (unsigned long long)lz, 5);
        bw_put(&w, (unsigned long long)(siglen - 1), 6);
        unsigned long long m = x >> tz;
        if (siglen > 32) {
            bw_put(&w, m >> 32, siglen - 32);
            bw_put(&w, m & 0xffffffffULL, 32);
        } else {
            bw_put(&w, m, siglen);
        }
    }
    bw_flush(&w);
    return (long long)(w.p - out);
}

void gorilla_encode_batch(const unsigned long long *v, const long long *sizes,
                          long n_series, unsigned char *out, long long *lens)
{
    const unsigned long long *pv = v;
    unsigned char *po = out;
    for (long j = 0; j < n_series; j++) {
        long long L = gorilla_body(pv, sizes[j], po);
        lens[j] = L;
        pv += sizes[j];
        po += L;
    }
}

/* One DoD body (no count header): 64b first value, 64b first delta, then
 * '0' / '10'+7b / '110'+9b / '1110'+12b / '1111'+64b per delta-of-delta,
 * biased payloads, int64 wraparound arithmetic done in unsigned (defined
 * behavior, same wrap as numpy). Matches codecs/dod.py::dod_encode. */
static long long dod_body(const long long *v, long n, unsigned char *out)
{
    BW w = {0, 0, out};
    bw_put64(&w, (unsigned long long)v[0]);
    if (n >= 2) {
        unsigned long long pd =
            (unsigned long long)v[1] - (unsigned long long)v[0];
        bw_put64(&w, pd);
        for (long i = 2; i < n; i++) {
            unsigned long long d =
                (unsigned long long)v[i] - (unsigned long long)v[i - 1];
            long long dod = (long long)(d - pd);
            pd = d;
            if (dod == 0) {
                bw_put(&w, 0, 1);
            } else if (dod >= -63 && dod <= 64) {
                bw_put(&w, 2, 2);
                bw_put(&w, (unsigned long long)(dod + 63), 7);
            } else if (dod >= -255 && dod <= 256) {
                bw_put(&w, 6, 3);
                bw_put(&w, (unsigned long long)(dod + 255), 9);
            } else if (dod >= -2047 && dod <= 2048) {
                bw_put(&w, 14, 4);
                bw_put(&w, (unsigned long long)(dod + 2047), 12);
            } else {
                bw_put(&w, 15, 4);
                bw_put64(&w, (unsigned long long)dod);
            }
        }
    }
    bw_flush(&w);
    return (long long)(w.p - out);
}

void dod_encode_batch(const long long *v, const long long *sizes,
                      long n_series, unsigned char *out, long long *lens)
{
    const long long *pv = v;
    unsigned char *po = out;
    for (long j = 0; j < n_series; j++) {
        long long L = dod_body(pv, sizes[j], po);
        lens[j] = L;
        pv += sizes[j];
        po += L;
    }
}

/* Whole-kernel MPX driver: one call covers every diagonal, processing
 * groups of 8 diagonals (cc0 -> fused compute -> sequential merge) so the
 * just-computed correlation rows are merged cache-warm and the Python
 * batch loop disappears. Grouping never changes per-row op sequences and
 * the merge stays strictly diagonal-ordered (ascending d within and
 * across groups), so results are bit-identical to any batch size (see
 * mp.py::mpx). scratch must hold 8*plen doubles. */
void mpx_full(const double *x, const double *mu, const double *ww,
              const double *A, const double *Z, const double *sig,
              const double *sgp, double *scratch, double *mp, int *mpi,
              long plen, long w, long exclusion)
{
    double cc0_loc[8];
    for (long d0 = exclusion; d0 < plen; d0 += 8) {
        long B = (plen - d0 < 8) ? (plen - d0) : 8;
        long maxoff = plen - d0;
        mpx_cc0(x, mu, ww, cc0_loc, B, w, d0);
        mpx_fused(A, Z, sig, sgp, cc0_loc, scratch, B, maxoff, d0, plen);
        mpx_merge(scratch, mp, mpi, B, plen, d0, plen);
    }
}
