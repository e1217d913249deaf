/* Banded / unconstrained DTW over index-addressed pairs of two flattened
 * series sets.
 *
 * Inputs.  A series set is (buf, off, len): series q occupies
 * buf[off[q] .. off[q] + len[q] * d), row-major (time, dim).  Pair p is
 * (A series ia[p], B series ib[p]); out[p] receives its DTW distance.
 * Callers pass pair lists without per-pair copies: the kNN broadcast
 * path hands query-major pairs over a length-sorted train set, the list
 * wrapper (ckernel.dtw_batch) flattens once and passes pairs sorted by
 * (la - lb, la).  Both orders keep neighbouring pairs' windows alike,
 * which is what the lane layout below needs.
 *
 * Lane layout.  Pairs run LANES (12) at a time.  The DP rows of all
 * lanes advance together in absolute column coordinates; every row
 * buffer is stored [column][lane], so one column of the row is 12
 * contiguous doubles (three 4-wide AVX2 vectors).  Each lane keeps its
 * own Sakoe-Chiba window [lo, hi]; a cell outside it is +inf, per
 * lane.  The row sweep is the union of the live lanes' windows; columns
 * inside every live lane's window skip the mask.  The in-row `left`
 * dependence is a serial chain per lane, but the 12 lanes are
 * independent chains, so the sweep is bound by throughput rather than
 * by one chain's latency.
 * The B side of a group is transposed into the same [column][dim][lane]
 * layout once per group; the A side is gathered once per row.
 *
 * Vector widths.  The row sweep is one macro body instantiated twice:
 * 4-wide for AVX2 (target attribute) and 2-wide for the x86-64 baseline
 * (SSE2), picked once per call with __builtin_cpu_supports.  A single
 * 4-wide body under target_clones would not do: GCC lowers 32-byte
 * vector compares piecewise on SSE2, and that clone ran ~10x slower
 * than the 2-wide instantiation.  Every min is the minpd instruction,
 * which computes exactly `x < y ? x : y`.
 *
 * Numerics.  Each cell is the reference recurrence with one add,
 *     R[i][j] = dw + min(min(up, diag), left),
 * dw the squared distance summed over dimensions from 0 (dw += t * t).
 * min is exact and each cell does one correctly rounded add of exact
 * operands, so any traversal order gives the same bits: the result is
 * BIT-IDENTICAL to the numpy forward pass (kernels._dtw_forward, which
 * walks anti-diagonals and builds dw in the same dimension order) on
 * the non-abandoned path.  Row 0 runs the same update against a virtual
 * previous row that is 0 at column -1 and +inf elsewhere.  min/sqrt are
 * exact IEEE ops; compile with -ffp-contract=off so no FMA re-rounds
 * the subtract-square local cost.
 *
 * tau2 early abandon: a pair whose running band minimum exceeds its cap
 * after a row is reported +inf immediately.  The numpy path ignores the
 * caps and returns the exact value; callers treat both as "provably
 * worse than the current top-k", and tests pin that either answer is
 * accepted.
 *
 * radius < 0 means unconstrained (full window): wlo/whi are set so lo
 * == 0 and hi == lb-1 on every row.
 */
#include <math.h>
#include <stdlib.h>

#define LANES 12

/* The row sweep is written once, as the macros below, and stamped out
 * per vector width W (doubles per vector; LANES / W vectors per column)
 * with the vector types vd/vm and the exact min VMIN of that width.
 * Selects are mask arithmetic because C has no vector ?:.
 *
 * DTW_SWEEP runs columns [j0, j1] of one DP row.  The row's previous
 * cell `left` and the row minimum mn live in vd arrays of the enclosing
 * function.  MASKED applies the per-lane windows: a cell left of lo or
 * right of hi is +inf.  Columns inside every live lane's window skip
 * the mask. */
#define SEL(mask, x, y) ((vd) (((mask) & (vm) (x)) | (~(mask) & (vm) (y))))

#define DTW_SWEEP(VMIN, j0, j1, D, MASKED)                                   \
    for (long long j = (j0); j <= (j1); j++) {                               \
        const double *b = Bt + j * (D) * LANES;                              \
        const double *up = P + (j + 1) * LANES;                              \
        const double *dg = P + j * LANES;                                    \
        double *r = R + (j + 1) * LANES;                                     \
        vd jd = zero + (double) j;                                           \
        for (int v = 0; v < LANES / W; v++) {                                \
            vd dw = zero;                                                    \
            for (long long dim = 0; dim < (D); dim++) {                      \
                vd t = *(const vd *) (a + dim * LANES + W * v)               \
                    - *(const vd *) (b + dim * LANES + W * v);               \
                dw += t * t;                                                 \
            }                                                                \
            vd u = *(const vd *) (up + W * v);                               \
            vd g = *(const vd *) (dg + W * v);                               \
            vd rv = dw + VMIN(VMIN(u, g), left[v]);                          \
            if (MASKED)                                                      \
                rv = SEL((jd < vlo[v]) | (jd > vhi[v]), inf, rv);            \
            left[v] = rv;                                                    \
            *(vd *) (r + W * v) = rv;                                        \
            mn[v] = VMIN(rv, mn[v]);                                         \
        }                                                                    \
    }

/* One DP row of a lane group over columns [jlo, jhi]; [jin, jout] is
 * inside every live lane's window (empty when jin > jout).  P/R point at
 * column -1 of the previous/current row; a holds this row's A values
 * [dim][lane]; lo/hi are the lanes' windows as doubles (SSE2 has no
 * 64-bit integer compare); rmin receives each lane's row minimum. */
#define DTW_ROW_BODY(VMIN, D)                                                \
    if (jin > jout) {                                                        \
        DTW_SWEEP(VMIN, jlo, jhi, D, 1)                                      \
    } else {                                                                 \
        DTW_SWEEP(VMIN, jlo, jin - 1, D, 1)                                  \
        DTW_SWEEP(VMIN, jin, jout, D, 0)                                     \
        DTW_SWEEP(VMIN, jout + 1, jhi, D, 1)                                 \
    }

#define DEFINE_DTW_ROW(NAME, ATTR, WIDTH, VMIN)                              \
ATTR static void                                                             \
NAME(const double *restrict Bt, const double *restrict P,                    \
     double *restrict R, const double *restrict a,                           \
     const double *restrict lo, const double *restrict hi,                   \
     double *restrict rmin, long long jlo, long long jhi,                    \
     long long jin, long long jout, long long d)                             \
{                                                                            \
    enum { W = WIDTH };                                                      \
    typedef double vd __attribute__((vector_size(8 * W)));                   \
    typedef long long vm __attribute__((vector_size(8 * W)));                \
    const vd zero = {0.0};                                                   \
    const vd inf = zero + INFINITY;                                          \
    vd left[LANES / W], mn[LANES / W];                                       \
    vd vlo[LANES / W], vhi[LANES / W];                                       \
    for (int v = 0; v < LANES / W; v++) {                                    \
        left[v] = inf;                                                       \
        mn[v] = inf;                                                         \
        vlo[v] = *(const vd *) (lo + W * v);                                 \
        vhi[v] = *(const vd *) (hi + W * v);                                 \
    }                                                                        \
    if (d == 1) {                                                            \
        DTW_ROW_BODY(VMIN, 1)                                                \
    } else {                                                                 \
        DTW_ROW_BODY(VMIN, d)                                                \
    }                                                                        \
    for (int v = 0; v < LANES / W; v++)                                      \
        *(vd *) (rmin + W * v) = mn[v];                                      \
}

DEFINE_DTW_ROW(dtw_row_avx2, __attribute__((target("avx2"))), 4,
               __builtin_ia32_minpd256)
DEFINE_DTW_ROW(dtw_row_sse2, , 2, __builtin_ia32_minpd)

void dtw_index(const double *bufA, const long long *offA, const long long *lenA,
               const double *bufB, const long long *offB, const long long *lenB,
               const long long *ia, const long long *ib, long long n,
               long long d, long long radius, const double *tau2, double *out)
{
    void (*row_fn)(const double *, const double *, double *, const double *,
                   const double *, const double *, double *, long long,
                   long long, long long, long long, long long)
        = __builtin_cpu_supports("avx2") ? dtw_row_avx2 : dtw_row_sse2;
    long long lbmax = 1, p;
    for (p = 0; p < n; p++)
        if (lenB[ib[p]] > lbmax) lbmax = lenB[ib[p]];
    /* row buffers hold columns -1 .. lbmax: (lbmax + 2) x LANES */
    size_t rowsz = (size_t) (lbmax + 2) * LANES * sizeof(double);
    size_t btsz = (size_t) lbmax * d * LANES * sizeof(double);
    size_t asz = (size_t) d * LANES * sizeof(double);
    double *P = NULL, *R = NULL, *Bt = NULL, *av = NULL;
    if (posix_memalign((void **) &P, 64, rowsz)
        || posix_memalign((void **) &R, 64, rowsz)
        || posix_memalign((void **) &Bt, 64, btsz)
        || posix_memalign((void **) &av, 64, asz)) {
        /* signal the wrapper to fall back to the numpy path */
        for (p = 0; p < n; p++) out[p] = -1.0;
        goto done;
    }
    for (long long g0 = 0; g0 < n; g0 += LANES) {
        const double *A[LANES];
        long long la[LANES], lb[LANES], wlo[LANES], whi[LANES];
        double lo[LANES] __attribute__((aligned(32)));
        double hi[LANES] __attribute__((aligned(32)));
        double rmin[LANES] __attribute__((aligned(32)));
        double cap[LANES];
        int live[LANES], l, nlive = 0;
        long long lbg = 1, lamax = 0, i, j, dim;
        for (l = 0; l < LANES; l++) {
            p = g0 + l;
            la[l] = p < n ? lenA[ia[p]] : 0;
            lb[l] = p < n ? lenB[ib[p]] : 0;
            /* an empty series has no warping path: +inf, like numpy */
            if (p < n) out[p] = INFINITY;
            live[l] = la[l] > 0 && lb[l] > 0;
            if (!live[l]) continue;
            nlive++;
            A[l] = bufA + offA[ia[p]];
            if (radius < 0) { wlo[l] = la[l]; whi[l] = lb[l]; }
            else if (la[l] > lb[l]) { wlo[l] = la[l] - lb[l] + radius; whi[l] = radius; }
            else { wlo[l] = radius; whi[l] = lb[l] - la[l] + radius; }
            cap[l] = tau2 != NULL ? tau2[p] : INFINITY;
            if (lb[l] > lbg) lbg = lb[l];
            if (la[l] > lamax) lamax = la[l];
        }
        for (j = 0; j < lbg; j++)
            for (dim = 0; dim < d; dim++) {
                double *dst = Bt + (j * d + dim) * LANES;
                for (l = 0; l < LANES; l++)
                    dst[l] = live[l] && j < lb[l]
                        ? bufB[offB[ib[g0 + l]] + j * d + dim] : 0.0;
            }
        /* virtual row -1: 0 at column -1, +inf elsewhere */
        for (l = 0; l < LANES; l++) P[l] = 0.0;
        for (j = LANES; j < (lbg + 1) * LANES; j++) P[j] = INFINITY;
        double *prev = P, *row = R;
        for (i = 0; i < lamax && nlive > 0; i++) {
            long long jlo = lbg, jhi = -1, jin = 0, jout = lbg;
            for (l = 0; l < LANES; l++) {
                if (!live[l]) {
                    lo[l] = INFINITY;
                    hi[l] = -1.0;
                    for (dim = 0; dim < d; dim++) av[dim * LANES + l] = 0.0;
                    continue;
                }
                long long cl = i - wlo[l] > 0 ? i - wlo[l] : 0;
                long long ch = i + whi[l] < lb[l] - 1 ? i + whi[l] : lb[l] - 1;
                lo[l] = (double) cl;
                hi[l] = (double) ch;
                if (cl < jlo) jlo = cl;
                if (ch > jhi) jhi = ch;
                if (cl > jin) jin = cl;
                if (ch < jout) jout = ch;
                for (dim = 0; dim < d; dim++)
                    av[dim * LANES + l] = A[l][i * d + dim];
            }
            row_fn(Bt, prev, row, av, lo, hi, rmin, jlo, jhi, jin, jout, d);
            /* the next row reads columns jlo-1 .. jhi+1 of this one */
            for (l = 0; l < LANES; l++) {
                row[jlo * LANES + l] = INFINITY;
                row[(jhi + 2) * LANES + l] = INFINITY;
            }
            for (l = 0; l < LANES; l++) {
                if (!live[l]) continue;
                if (i + 1 == la[l]) {
                    out[g0 + l] = sqrt(row[lb[l] * LANES + l]);
                    live[l] = 0;
                    nlive--;
                } else if (rmin[l] > cap[l]) {
                    out[g0 + l] = INFINITY;
                    live[l] = 0;
                    nlive--;
                }
            }
            double *tmp = prev;
            prev = row;
            row = tmp;
        }
    }
done:
    free(av);
    free(P);
    free(R);
    free(Bt);
}
