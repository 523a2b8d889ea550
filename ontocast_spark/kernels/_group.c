/*
 * Greedy entity grouping for one document: the pair loop of
 * ontocast_spark.kernels.aggregate._find_similar_entities_py in C, with
 * the same decisions in the same order.
 *
 * Entity i (in insertion order) that is not yet in a group leads one; it
 * then takes every later ungrouped entity j that passes
 *   1. the type gate: when both are typed, their type bitsets intersect;
 *   2. equal lowered local names (ids), which merge unconditionally; else
 *   3. both lowered labels non-empty, the length bound
 *      200*min(l1,l2) >= t*(l1+l2), and 200*lcs/(l1+l2) >= t, with
 *      t = the semantic threshold when types are shared, else the plain one.
 * Every comparison is the one Python makes, in IEEE doubles (build without
 * -ffast-math and without FMA contraction).
 *
 * LCS length: Allison-Dix bit-parallel when either label has at most 64
 * code points (that label in the bit dimension), plain DP otherwise.
 *
 * Build: gcc -O2 -shared -fPIC -ffp-contract=off _group.c -o _group.so
 */

#include <stdint.h>
#include <stdlib.h>
#include <string.h>

/* Allison-Dix match masks of one string of at most 64 code points. */
typedef struct {
    uint64_t low[256];  /* code points below 256, direct */
    uint32_t hi_cp[64]; /* the rest, searched linearly */
    uint64_t hi_mask[64];
    int n_hi;
} masks_t;

static void masks_set(masks_t *t, const uint32_t *a, int la)
{
    for (int k = 0; k < la; k++) {
        uint32_t c = a[k];
        uint64_t bit = (uint64_t)1 << k;
        if (c < 256) {
            t->low[c] |= bit;
            continue;
        }
        int h = 0;
        while (h < t->n_hi && t->hi_cp[h] != c)
            h++;
        if (h == t->n_hi) {
            t->hi_cp[h] = c;
            t->hi_mask[h] = 0;
            t->n_hi++;
        }
        t->hi_mask[h] |= bit;
    }
}

static void masks_clear(masks_t *t, const uint32_t *a, int la)
{
    for (int k = 0; k < la; k++)
        if (a[k] < 256)
            t->low[a[k]] = 0;
    t->n_hi = 0;
}

static inline uint64_t masks_get(const masks_t *t, uint32_t c)
{
    if (c < 256)
        return t->low[c];
    for (int h = 0; h < t->n_hi; h++)
        if (t->hi_cp[h] == c)
            return t->hi_mask[h];
    return 0;
}

/* LCS length; the string behind t has la <= 64 code points. */
static int lcs_bits(const masks_t *t, int la, const uint32_t *b, int lb)
{
    uint64_t full = la == 64 ? ~(uint64_t)0 : ((uint64_t)1 << la) - 1;
    uint64_t r = 0;
    for (int k = 0; k < lb; k++) {
        uint64_t x = masks_get(t, b[k]) | r;
        uint64_t y = ((r << 1) | 1) & full;
        r = x & ~((x - y) & full) & full;
    }
    return __builtin_popcountll(r);
}

/* LCS length by dynamic programming; row holds la + 1 ints. */
static int lcs_dp(const uint32_t *a, int la, const uint32_t *b, int lb, int *row)
{
    memset(row, 0, (size_t)(la + 1) * sizeof(int));
    for (int j = 0; j < lb; j++) {
        int diag = 0;
        for (int i = 0; i < la; i++) {
            int up = row[i + 1];
            if (a[i] == b[j])
                row[i + 1] = diag + 1;
            else if (row[i] > up)
                row[i + 1] = row[i];
            diag = up;
        }
    }
    return row[la];
}

static int any_shared(const uint64_t *a, const uint64_t *b, int words)
{
    for (int k = 0; k < words; k++)
        if (a[k] & b[k])
            return 1;
    return 0;
}

/*
 * n entities; entity i has lowered label cps[off[i] .. off[i+1]) (UTF-32
 * code points), lowered local-name id lname[i], and type bitset
 * types[i*words .. (i+1)*words) (all zero when untyped). Writes each
 * entity's group leader to leader[i] (leader[i] == i for a leader).
 * Returns 0, or -1 when memory runs out.
 */
int ontocast_group_entities(int32_t n, const uint32_t *cps, const int64_t *off,
                            const int32_t *lname, const uint64_t *types,
                            int32_t words, double sim_threshold,
                            double sem_threshold, int32_t *leader)
{
    int max_len = 0;
    for (int32_t i = 0; i < n; i++) {
        int len = (int)(off[i + 1] - off[i]);
        if (len > max_len)
            max_len = len;
    }
    char *typed = malloc((size_t)n + 1);
    int *row = malloc((size_t)(max_len + 1) * sizeof(int));
    masks_t *mi = calloc(1, sizeof(masks_t));
    masks_t *mj = calloc(1, sizeof(masks_t));
    if (!typed || !row || !mi || !mj) {
        free(typed);
        free(row);
        free(mi);
        free(mj);
        return -1;
    }
    for (int32_t i = 0; i < n; i++) {
        typed[i] = 0;
        for (int k = 0; k < words; k++)
            if (types[(int64_t)i * words + k])
                typed[i] = 1;
        leader[i] = -1;
    }

    for (int32_t i = 0; i < n; i++) {
        if (leader[i] >= 0)
            continue;
        leader[i] = i;
        const uint32_t *a = cps + off[i];
        int l1 = (int)(off[i + 1] - off[i]);
        const uint64_t *ti = types + (int64_t)i * words;
        int mi_built = 0;
        for (int32_t j = i + 1; j < n; j++) {
            if (leader[j] >= 0)
                continue;
            int shared = 0;
            if (typed[i] && typed[j]) {
                if (!any_shared(ti, types + (int64_t)j * words, words))
                    continue; /* conflicting type info */
                shared = 1;
            }
            if (lname[i] == lname[j]) {
                leader[j] = i;
                continue;
            }
            int l2 = (int)(off[j + 1] - off[j]);
            if (l1 == 0 || l2 == 0)
                continue;
            double threshold = shared ? sem_threshold : sim_threshold;
            if (200.0 * (double)(l1 < l2 ? l1 : l2) < threshold * (double)(l1 + l2))
                continue; /* ratio upper bound below threshold */
            const uint32_t *b = cps + off[j];
            int lcs;
            if (l1 <= 64) {
                if (!mi_built) {
                    masks_set(mi, a, l1);
                    mi_built = 1;
                }
                lcs = lcs_bits(mi, l1, b, l2);
            } else if (l2 <= 64) {
                masks_set(mj, b, l2);
                lcs = lcs_bits(mj, l2, a, l1);
                masks_clear(mj, b, l2);
            } else {
                lcs = lcs_dp(a, l1, b, l2, row);
            }
            if (200.0 * (double)lcs / (double)(l1 + l2) >= threshold)
                leader[j] = i;
        }
        if (mi_built)
            masks_clear(mi, a, l1);
    }
    free(typed);
    free(row);
    free(mi);
    free(mj);
    return 0;
}
