/* LASzip chunk decoder: one compressor-2 chunk -> point columns.
 *
 * Port of the decoder that laz.py's writer mirrors, from the public
 * LASzip scheme (Isenburg, PE&RS 2013; laszip.org): the FastAC-style
 * arithmetic decoder with adaptive symbol and bit models, the k-bit
 * corrector integer compressor, StreamingMedian5, and the POINT10 v2,
 * GPSTIME11 v2, RGB12 v2, BYTE v2 and WAVEPACKET13 v1 item readers.  The
 * reference decodes the same streams through the laszip native library
 * (LAS/LasZipNetReader.cs:54-89).
 *
 * API (ctypes):
 *   int64_t lsu_laz_decode_chunk(
 *       const uint8_t *data, int64_t size, int64_t start, int64_t count,
 *       int64_t has_gps, int64_t has_rgb, int64_t has_wave,
 *       int64_t n_extra, int64_t lookahead,
 *       int64_t *x, int64_t *y, int64_t *z, uint8_t *cls, uint8_t *rets,
 *       double *gps, uint16_t *rgb, uint8_t *extra, uint8_t *wave,
 *       int64_t *end_pos);
 *   ``data[start:size]`` holds the chunk: the raw first point (its items
 *   in the order POINT10, GPSTIME11, RGB12, WAVEPACKET13, BYTE) and then
 *   the arithmetic-coded rest.  Outputs have ``count`` rows; ``gps``,
 *   ``rgb`` (3 per row), ``extra`` (``n_extra`` per row) and ``wave``
 *   (29 per row) are written only for the items present.  Returns 0, or
 *   one of the LSU_LAZ_* codes below; ``*end_pos`` is the decoder's
 *   final read position (the raw first point's end for RAW_SHORT).
 *
 * Semantics are those of the Python decoder kept as the test oracle
 * (tests/laz_oracle.py), bit for bit, on every input: coordinates
 * accumulate in int64 from int32-wrapped differences, and a corrupt
 * stream decodes to the same values there and here.  The decoder reads
 * zeros past ``size`` and never reads beyond it.
 */

#include <stdint.h>
#include <stdlib.h>
#include <string.h>

#define LSU_LAZ_RAW_SHORT -1 /* the raw first point runs past size */
#define LSU_LAZ_OVERRUN -2   /* decoded > lookahead bytes past size */
#define LSU_LAZ_EARLY -3     /* start == 0 and stopped > lookahead before */
#define LSU_LAZ_NOMEM -4
#define LSU_LAZ_OFFSET64 -5  /* a wave-packet offset wider than 64 bits */
#define LSU_LAZ_ARGS -6      /* count < 1, start < 0 or n_extra < 0 */

#define AC_MIN_LENGTH 0x01000000u
#define BM_LENGTH_SHIFT 13
#define BM_MAX_COUNT (1u << BM_LENGTH_SHIFT)
#define DM_LENGTH_SHIFT 15
#define DM_MAX_COUNT (1u << DM_LENGTH_SHIFT)

/* ---- arithmetic decoder and models ------------------------------------ */

typedef struct {
    const uint8_t *data;
    int64_t size, pos;
    uint32_t value, length;
} Dec;

typedef struct {
    uint32_t *dist, *cnt;
    uint32_t symbols, total, cycle, until;
} Model;

typedef struct {
    uint32_t b0, cnt, prob, cycle, until;
} BitModel;

static void model_update(Model *m) {
    m->total += m->cycle;
    if (m->total > DM_MAX_COUNT) {
        m->total = 0;
        for (uint32_t i = 0; i < m->symbols; i++) {
            m->cnt[i] = (m->cnt[i] + 1) >> 1;
            m->total += m->cnt[i];
        }
    }
    uint32_t scale = 0x80000000u / m->total;
    uint64_t s = 0;
    for (uint32_t i = 0; i < m->symbols; i++) {
        m->dist[i] = (uint32_t)((scale * s) >> (31 - DM_LENGTH_SHIFT));
        s += m->cnt[i];
    }
    m->cycle = (5 * m->cycle) >> 2;
    uint32_t max_cycle = (m->symbols + 6) << 3;
    if (m->cycle > max_cycle) m->cycle = max_cycle;
    m->until = m->cycle;
}

/* mem: 2 * symbols words */
static void model_init(Model *m, uint32_t symbols, uint32_t *mem) {
    m->symbols = symbols;
    m->dist = mem;
    m->cnt = mem + symbols;
    for (uint32_t i = 0; i < symbols; i++) m->cnt[i] = 1;
    m->total = 0;
    m->cycle = symbols;
    model_update(m);
    m->until = m->cycle = (symbols + 6) >> 1;
}

static void bit_model_init(BitModel *m) {
    m->b0 = 1;
    m->cnt = 2;
    m->prob = 1u << (BM_LENGTH_SHIFT - 1);
    m->cycle = m->until = 4;
}

static void bit_model_update(BitModel *m) {
    m->cnt += m->cycle;
    if (m->cnt > BM_MAX_COUNT) {
        m->cnt = (m->cnt + 1) >> 1;
        m->b0 = (m->b0 + 1) >> 1;
        if (m->b0 == m->cnt) m->cnt++;
    }
    uint64_t scale = 0x80000000u / m->cnt;
    m->prob = (uint32_t)((m->b0 * scale) >> (31 - BM_LENGTH_SHIFT));
    m->cycle = (5 * m->cycle) >> 2;
    if (m->cycle > 64) m->cycle = 64;
    m->until = m->cycle;
}

static inline uint32_t next_byte(Dec *d) {
    uint32_t b = d->pos < d->size ? d->data[d->pos] : 0;
    d->pos++;
    return b;
}

static void dec_init(Dec *d) {
    uint32_t v = 0;
    for (int i = 0; i < 4; i++) v = (v << 8) | next_byte(d);
    d->value = v;
    d->length = 0xFFFFFFFFu;
}

/* length > 0 on entry (every caller leaves at least 1), so this ends */
static inline void renorm(Dec *d) {
    while (d->length < AC_MIN_LENGTH) {
        d->value = (d->value << 8) | next_byte(d);
        d->length <<= 8;
    }
}

static uint32_t decode_bit(Dec *d, BitModel *m) {
    uint64_t x = (uint64_t)m->prob * (d->length >> BM_LENGTH_SHIFT);
    uint32_t sym;
    if (d->value >= x) {
        sym = 1;
        d->value -= (uint32_t)x;
        d->length -= (uint32_t)x;
    } else {
        sym = 0;
        d->length = (uint32_t)x;
    }
    if (d->length < AC_MIN_LENGTH) renorm(d);
    if (sym == 0) m->b0++;
    if (--m->until == 0) bit_model_update(m);
    return sym;
}

static uint32_t decode_symbol(Dec *d, Model *m) {
    uint64_t y = d->length, x = 0, z;
    uint32_t length = d->length >> DM_LENGTH_SHIFT;
    uint32_t sym = 0, n = m->symbols, k = n >> 1;
    do {
        z = (uint64_t)length * m->dist[k];
        if (z > d->value) {
            n = k;
            y = z;
        } else {
            sym = k;
            x = z;
        }
        k = (sym + n) >> 1;
    } while (k != sym);
    d->value -= (uint32_t)x;
    d->length = (uint32_t)(y - x);
    if (d->length < AC_MIN_LENGTH) renorm(d);
    m->cnt[sym]++;
    if (--m->until == 0) model_update(m);
    return sym;
}

/* raw bits: below 2^bits on a well-formed stream, up to 2^32 otherwise */
static uint64_t read_shift(Dec *d, uint32_t bits) {
    d->length >>= bits;
    uint32_t sym = d->value / d->length;
    d->value -= d->length * sym;
    if (d->length < AC_MIN_LENGTH) renorm(d);
    return sym;
}

static uint64_t read_bits(Dec *d, uint32_t bits) {
    if (bits > 19) {
        uint64_t low = read_shift(d, 16);
        uint64_t high = read_bits(d, bits - 16);
        return (high << 16) | low;
    }
    return read_shift(d, bits);
}

static uint64_t read_int(Dec *d) {
    uint64_t low = read_shift(d, 16);
    uint64_t high = read_shift(d, 16);
    return (high << 16) | low;
}

/* ---- model arena ------------------------------------------------------- */

typedef struct {
    uint32_t *mem;
    size_t used; /* in words */
} Arena;

static uint32_t *arena_take(Arena *a, uint32_t symbols) {
    uint32_t *p = a->mem + a->used;
    a->used += 2 * (size_t)symbols;
    return p;
}

/* a 256-symbol model created on first use (POINT10 keys one per byte
 * value); NULL when malloc fails */
static Model *lazy_model(Model **slot) {
    if (*slot) return *slot;
    Model *m = malloc(sizeof(Model) + 2 * 256 * sizeof(uint32_t));
    if (!m) return NULL;
    model_init(m, 256, (uint32_t *)(m + 1));
    return *slot = m;
}

/* ---- integer compressor ------------------------------------------------ */

typedef struct {
    Dec *d;
    uint32_t corr_bits, bits_high, k;
    int64_t corr_range, corr_min;
    Model *m_bits;     /* [contexts] */
    BitModel m_corr0;
    Model m_corr[33];  /* [1 .. corr_bits] */
} IC;

static size_t ic_words(uint32_t bits, uint32_t contexts) {
    uint32_t corr_bits = (bits && bits < 32) ? bits : 32;
    size_t w = (size_t)contexts * (corr_bits + 1);
    for (uint32_t k = 1; k <= corr_bits; k++) w += 1u << (k < 8 ? k : 8);
    return 2 * w;
}

static void ic_init(IC *ic, Dec *d, Arena *a, uint32_t bits, uint32_t contexts,
                    Model *m_bits) {
    ic->d = d;
    ic->bits_high = 8;
    if (bits && bits < 32) {
        ic->corr_bits = bits;
        ic->corr_range = (int64_t)1 << bits;
        ic->corr_min = -(ic->corr_range >> 1);
    } else {
        ic->corr_bits = 32;
        ic->corr_range = 0;
        ic->corr_min = -(int64_t)0x80000000;
    }
    ic->k = 0;
    ic->m_bits = m_bits;
    for (uint32_t c = 0; c < contexts; c++)
        model_init(&m_bits[c], ic->corr_bits + 1, arena_take(a, ic->corr_bits + 1));
    bit_model_init(&ic->m_corr0);
    for (uint32_t k = 1; k <= ic->corr_bits; k++) {
        uint32_t s = 1u << (k < ic->bits_high ? k : ic->bits_high);
        model_init(&ic->m_corr[k], s, arena_take(a, s));
    }
}

static int64_t read_corrector(IC *ic, uint32_t context) {
    Dec *d = ic->d;
    uint32_t k = decode_symbol(d, &ic->m_bits[context]);
    ic->k = k;
    int64_t c;
    if (k) {
        if (k < 32) {
            uint64_t u = decode_symbol(d, &ic->m_corr[k]);
            if (k > ic->bits_high) {
                uint32_t k1 = k - ic->bits_high;
                u = (u << k1) | read_bits(d, k1);
            }
            c = (int64_t)u;
            /* fold back into the signed corrector interval */
            if (c >= ((int64_t)1 << (k - 1)))
                c += 1;
            else
                c -= ((int64_t)1 << k) - 1;
        } else {
            c = ic->corr_min;
        }
    } else {
        c = decode_bit(d, &ic->m_corr0);
    }
    return c;
}

static inline int64_t wrap32(int64_t v) {
    return (int64_t)(int32_t)(uint32_t)(uint64_t)v;
}

static int64_t ic_decompress(IC *ic, int64_t pred, uint32_t context) {
    int64_t real = pred + read_corrector(ic, context);
    if (ic->corr_range) {
        if (real < 0)
            real += ic->corr_range;
        else if (real >= ic->corr_range)
            real -= ic->corr_range;
    } else {
        real = wrap32(real);
    }
    return real;
}

/* ---- StreamingMedian5 -------------------------------------------------- */

typedef struct {
    int64_t v[5];
    int high;
} Median5;

static void median5_add(Median5 *s, int64_t x) {
    int64_t *v = s->v;
    if (s->high) {
        if (x < v[2]) {
            v[4] = v[3];
            v[3] = v[2];
            if (x < v[0]) {
                v[2] = v[1];
                v[1] = v[0];
                v[0] = x;
            } else if (x < v[1]) {
                v[2] = v[1];
                v[1] = x;
            } else {
                v[2] = x;
            }
        } else {
            if (x < v[3]) {
                v[4] = v[3];
                v[3] = x;
            } else {
                v[4] = x;
            }
            s->high = 0;
        }
    } else {
        if (v[2] < x) {
            v[0] = v[1];
            v[1] = v[2];
            if (v[4] < x) {
                v[2] = v[3];
                v[3] = v[4];
                v[4] = x;
            } else if (v[3] < x) {
                v[2] = v[3];
                v[3] = x;
            } else {
                v[2] = x;
            }
        } else {
            if (v[1] < x) {
                v[0] = v[1];
                v[1] = x;
            } else {
                v[0] = x;
            }
            s->high = 1;
        }
    }
}

/* ---- POINT10 v2 -------------------------------------------------------- */

static const uint8_t NUMBER_RETURN_MAP[8][8] = {
    {15, 14, 13, 12, 11, 10, 9, 8}, {14, 0, 1, 3, 6, 10, 10, 9},
    {13, 1, 2, 4, 7, 11, 11, 10},   {12, 3, 4, 5, 8, 12, 12, 11},
    {11, 6, 7, 8, 9, 13, 13, 12},   {10, 10, 11, 12, 13, 14, 14, 13},
    {9, 10, 11, 12, 13, 14, 15, 14}, {8, 9, 10, 11, 12, 13, 14, 15},
};
static const uint8_t NUMBER_RETURN_LEVEL[8][8] = {
    {0, 1, 2, 3, 4, 5, 6, 7}, {1, 0, 1, 2, 3, 4, 5, 6},
    {2, 1, 0, 1, 2, 3, 4, 5}, {3, 2, 1, 0, 1, 2, 3, 4},
    {4, 3, 2, 1, 0, 1, 2, 3}, {5, 4, 3, 2, 1, 0, 1, 2},
    {6, 5, 4, 3, 2, 1, 0, 1}, {7, 6, 5, 4, 3, 2, 1, 0},
};

typedef struct {
    int64_t x, y, z, intensity, psid;
    uint32_t flags, classification, scan_angle, user_data;
    Model m_changed, m_scan_angle[2];
    Model *m_bit_byte[256], *m_classification[256], *m_user_data[256];
    Model mb_intensity[4], mb_psid[1], mb_dx[2], mb_dy[22], mb_z[20];
    IC ic_intensity, ic_psid, ic_dx, ic_dy, ic_z;
    Median5 x_med[16], y_med[16];
    int64_t last_intensity[16], last_height[8];
} Point10;

static size_t point10_words(void) {
    return 2 * (64 + 2 * 256) + ic_words(16, 4) + ic_words(16, 1) +
           ic_words(32, 2) + ic_words(32, 22) + ic_words(32, 20);
}

static int32_t le_i32(const uint8_t *p) {
    return (int32_t)((uint32_t)p[0] | (uint32_t)p[1] << 8 |
                     (uint32_t)p[2] << 16 | (uint32_t)p[3] << 24);
}

static uint32_t le_u32(const uint8_t *p) { return (uint32_t)le_i32(p); }

static uint64_t le_u64(const uint8_t *p) {
    return (uint64_t)le_u32(p) | (uint64_t)le_u32(p + 4) << 32;
}

static void point10_init(Point10 *p, Dec *d, Arena *a, const uint8_t *raw) {
    p->x = le_i32(raw);
    p->y = le_i32(raw + 4);
    p->z = le_i32(raw + 8);
    p->intensity = 0; /* v2: the last intensity starts at 0 */
    p->flags = raw[14];
    p->classification = raw[15];
    p->scan_angle = raw[16];
    p->user_data = raw[17];
    p->psid = (int64_t)raw[18] | (int64_t)raw[19] << 8;
    model_init(&p->m_changed, 64, arena_take(a, 64));
    for (int i = 0; i < 2; i++) model_init(&p->m_scan_angle[i], 256, arena_take(a, 256));
    ic_init(&p->ic_intensity, d, a, 16, 4, p->mb_intensity);
    ic_init(&p->ic_psid, d, a, 16, 1, p->mb_psid);
    ic_init(&p->ic_dx, d, a, 32, 2, p->mb_dx);
    ic_init(&p->ic_dy, d, a, 32, 22, p->mb_dy);
    ic_init(&p->ic_z, d, a, 32, 20, p->mb_z);
    for (int i = 0; i < 16; i++) p->x_med[i].high = p->y_med[i].high = 1;
}

static int point10_read(Point10 *p, Dec *d) {
    uint32_t changed = decode_symbol(d, &p->m_changed);
    uint32_t r, n, m, level;
    Model *mod;
    if (changed) {
        if (changed & 32) {
            if (!(mod = lazy_model(&p->m_bit_byte[p->flags]))) return LSU_LAZ_NOMEM;
            p->flags = decode_symbol(d, mod);
        }
        r = p->flags & 7;
        n = (p->flags >> 3) & 7;
        m = NUMBER_RETURN_MAP[n][r];
        level = NUMBER_RETURN_LEVEL[n][r];
        if (changed & 16) {
            p->intensity = ic_decompress(&p->ic_intensity, p->last_intensity[m],
                                         m < 3 ? m : 3);
            p->last_intensity[m] = p->intensity;
        } else {
            p->intensity = p->last_intensity[m];
        }
        if (changed & 8) {
            if (!(mod = lazy_model(&p->m_classification[p->classification])))
                return LSU_LAZ_NOMEM;
            p->classification = decode_symbol(d, mod);
        }
        if (changed & 4) {
            uint32_t val = decode_symbol(d, &p->m_scan_angle[(p->flags >> 6) & 1]);
            p->scan_angle = (val + p->scan_angle) & 0xFF;
        }
        if (changed & 2) {
            if (!(mod = lazy_model(&p->m_user_data[p->user_data]))) return LSU_LAZ_NOMEM;
            p->user_data = decode_symbol(d, mod);
        }
        if (changed & 1) p->psid = ic_decompress(&p->ic_psid, p->psid, 0);
    } else {
        r = p->flags & 7;
        n = (p->flags >> 3) & 7;
        m = NUMBER_RETURN_MAP[n][r];
        level = NUMBER_RETURN_LEVEL[n][r];
    }

    /* positions: median-predicted dx, k-correlated dy/z contexts */
    uint32_t one = n == 1;
    int64_t diff = ic_decompress(&p->ic_dx, p->x_med[m].v[2], one);
    p->x += diff;
    median5_add(&p->x_med[m], diff);

    uint32_t k_bits = p->ic_dx.k;
    diff = ic_decompress(&p->ic_dy, p->y_med[m].v[2],
                         one + (k_bits < 20 ? (k_bits & 0xFE) : 20));
    p->y += diff;
    median5_add(&p->y_med[m], diff);

    k_bits = (p->ic_dx.k + p->ic_dy.k) / 2;
    p->z = ic_decompress(&p->ic_z, p->last_height[level],
                         one + (k_bits < 18 ? (k_bits & 0xFE) : 18));
    p->last_height[level] = p->z;
    return 0;
}

/* ---- GPSTIME11 v2 ------------------------------------------------------ */

#define GPSTIME_MULTI 500
#define GPSTIME_MULTI_MINUS -10
#define GPSTIME_MULTI_UNCHANGED (GPSTIME_MULTI - GPSTIME_MULTI_MINUS + 1)
#define GPSTIME_MULTI_CODE_FULL (GPSTIME_MULTI - GPSTIME_MULTI_MINUS + 2)
#define GPSTIME_MULTI_TOTAL (GPSTIME_MULTI - GPSTIME_MULTI_MINUS + 6)

typedef struct {
    Model m_multi, m_0diff, mb_gps[9];
    IC ic;
    uint32_t last, next;
    uint64_t lg[4]; /* bit patterns of the doubles */
    int64_t lgd[4];
    int64_t mec[4];
} Gps;

static size_t gps_words(void) {
    return 2 * (GPSTIME_MULTI_TOTAL + 6) + ic_words(32, 9);
}

static void gps_init(Gps *g, Dec *d, Arena *a, const uint8_t *raw) {
    memset(g, 0, sizeof(*g));
    model_init(&g->m_multi, GPSTIME_MULTI_TOTAL, arena_take(a, GPSTIME_MULTI_TOTAL));
    model_init(&g->m_0diff, 6, arena_take(a, 6));
    ic_init(&g->ic, d, a, 32, 9, g->mb_gps);
    g->lg[0] = le_u64(raw);
}

/* the new sequence after a full 64-bit retake */
static void gps_full(Gps *g, Dec *d) {
    g->next = (g->next + 1) & 3;
    int64_t hi = ic_decompress(&g->ic, wrap32((int64_t)(g->lg[g->last] >> 32)), 8);
    g->lg[g->next] = ((uint64_t)hi & 0xFFFFFFFFu) << 32 | read_int(d);
    g->last = g->next;
    g->lgd[g->last] = 0;
    g->mec[g->last] = 0;
}

static void gps_count_extreme(Gps *g, int64_t d) {
    if (++g->mec[g->last] > 3) {
        g->lgd[g->last] = d;
        g->mec[g->last] = 0;
    }
}

static double gps_read(Gps *g, Dec *d) {
    for (;;) { /* each pass that switches sequence decodes one more symbol */
        uint32_t last = g->last;
        if (g->lgd[last] == 0) {
            uint32_t multi = decode_symbol(d, &g->m_0diff);
            if (multi == 1) { /* 32-bit difference */
                g->lgd[last] = ic_decompress(&g->ic, 0, 0);
                g->lg[last] += (uint64_t)g->lgd[last];
                g->mec[last] = 0;
            } else if (multi == 2) {
                gps_full(g, d);
            } else if (multi > 2) { /* switch sequence */
                g->last = (last + multi - 2) & 3;
                continue;
            }
        } else {
            uint32_t multi = decode_symbol(d, &g->m_multi);
            int64_t lgd = g->lgd[last], dd;
            if (multi == 1) {
                dd = ic_decompress(&g->ic, lgd, 1);
                g->lg[last] += (uint64_t)dd;
                g->mec[last] = 0;
            } else if (multi < GPSTIME_MULTI_UNCHANGED) {
                if (multi == 0) {
                    dd = ic_decompress(&g->ic, 0, 7);
                    gps_count_extreme(g, dd);
                } else if (multi < GPSTIME_MULTI) {
                    dd = ic_decompress(&g->ic, wrap32((int64_t)multi * lgd),
                                       multi < 10 ? 2 : 3);
                } else if (multi == GPSTIME_MULTI) {
                    dd = ic_decompress(&g->ic, wrap32(GPSTIME_MULTI * lgd), 4);
                    gps_count_extreme(g, dd);
                } else {
                    int64_t mneg = GPSTIME_MULTI - (int64_t)multi;
                    if (mneg > GPSTIME_MULTI_MINUS) {
                        dd = ic_decompress(&g->ic, wrap32(mneg * lgd), 5);
                    } else {
                        dd = ic_decompress(&g->ic, wrap32(GPSTIME_MULTI_MINUS * lgd), 6);
                        gps_count_extreme(g, dd);
                    }
                }
                g->lg[last] += (uint64_t)dd;
            } else if (multi == GPSTIME_MULTI_CODE_FULL) {
                gps_full(g, d);
            } else if (multi > GPSTIME_MULTI_CODE_FULL) {
                g->last = (last + multi - GPSTIME_MULTI_CODE_FULL) & 3;
                continue;
            }
        }
        break;
    }
    double out;
    memcpy(&out, &g->lg[g->last], 8);
    return out;
}

/* ---- RGB12 v2 ---------------------------------------------------------- */

typedef struct {
    uint32_t r, g, b;
    Model m_byte_used, m_diff[6];
} Rgb;

static size_t rgb_words(void) { return 2 * (128 + 6 * 256); }

static void rgb_init(Rgb *c, Arena *a, const uint8_t *raw) {
    c->r = raw[0] | raw[1] << 8;
    c->g = raw[2] | raw[3] << 8;
    c->b = raw[4] | raw[5] << 8;
    model_init(&c->m_byte_used, 128, arena_take(a, 128));
    for (int i = 0; i < 6; i++) model_init(&c->m_diff[i], 256, arena_take(a, 256));
}

static inline int32_t u8_clamp(int32_t v) { return v < 0 ? 0 : (v > 255 ? 255 : v); }

static void rgb_read(Rgb *c, Dec *d) {
    int32_t lr = c->r, lg = c->g, lb = c->b, r, g, b, diff, corr;
    uint32_t sym = decode_symbol(d, &c->m_byte_used);
    if (sym & 1) {
        corr = decode_symbol(d, &c->m_diff[0]);
        r = (corr + (lr & 0xFF)) & 0xFF;
    } else {
        r = lr & 0xFF;
    }
    if (sym & 2) {
        corr = decode_symbol(d, &c->m_diff[1]);
        r |= ((corr + (lr >> 8)) & 0xFF) << 8;
    } else {
        r |= lr & 0xFF00;
    }
    if (sym & 64) {
        diff = (r & 0xFF) - (lr & 0xFF);
        if (sym & 4) {
            corr = decode_symbol(d, &c->m_diff[2]);
            g = (corr + u8_clamp(diff + (lg & 0xFF))) & 0xFF;
        } else {
            g = lg & 0xFF;
        }
        if (sym & 16) {
            corr = decode_symbol(d, &c->m_diff[4]);
            diff = (diff + (g & 0xFF) - (lg & 0xFF)) / 2; /* truncates to 0 */
            b = (corr + u8_clamp(diff + (lb & 0xFF))) & 0xFF;
        } else {
            b = lb & 0xFF;
        }
        diff = (r >> 8) - (lr >> 8);
        if (sym & 8) {
            corr = decode_symbol(d, &c->m_diff[3]);
            g |= ((corr + u8_clamp(diff + (lg >> 8))) & 0xFF) << 8;
        } else {
            g |= lg & 0xFF00;
        }
        if (sym & 32) {
            corr = decode_symbol(d, &c->m_diff[5]);
            diff = (diff + (g >> 8) - (lg >> 8)) / 2;
            b |= ((corr + u8_clamp(diff + (lb >> 8))) & 0xFF) << 8;
        } else {
            b |= lb & 0xFF00;
        }
    } else {
        g = r;
        b = r;
    }
    c->r = r;
    c->g = g;
    c->b = b;
}

/* ---- WAVEPACKET13 v1 --------------------------------------------------- */

typedef struct {
    uint32_t desc, sym_last;
    uint64_t offset;
    int64_t size, ret, xt, yt, zt, last_diff_32;
    Model m_index, m_offset_diff[4];
    Model mb_offset[1], mb_size[1], mb_ret[1], mb_xyz[3];
    IC ic_offset, ic_size, ic_ret, ic_xyz;
} Wave;

static size_t wave_words(void) {
    return 2 * (256 + 4 * 4) + 3 * ic_words(32, 1) + ic_words(32, 3);
}

static void wave_init(Wave *w, Dec *d, Arena *a, const uint8_t *raw) {
    memset(w, 0, sizeof(*w));
    w->desc = raw[0];
    w->offset = le_u64(raw + 1);
    w->size = le_u32(raw + 9);
    w->ret = le_i32(raw + 13);
    w->xt = le_i32(raw + 17);
    w->yt = le_i32(raw + 21);
    w->zt = le_i32(raw + 25);
    model_init(&w->m_index, 256, arena_take(a, 256));
    for (int i = 0; i < 4; i++) model_init(&w->m_offset_diff[i], 4, arena_take(a, 4));
    ic_init(&w->ic_offset, d, a, 32, 1, w->mb_offset);
    ic_init(&w->ic_size, d, a, 32, 1, w->mb_size);
    ic_init(&w->ic_ret, d, a, 32, 1, w->mb_ret);
    ic_init(&w->ic_xyz, d, a, 32, 3, w->mb_xyz);
}

static void put_le(uint8_t *p, uint64_t v, int n) {
    for (int i = 0; i < n; i++) p[i] = (uint8_t)(v >> (8 * i));
}

static void wave_write(const Wave *w, uint8_t *out) {
    out[0] = (uint8_t)w->desc;
    put_le(out + 1, w->offset, 8);
    put_le(out + 9, (uint64_t)w->size, 4);
    put_le(out + 13, (uint64_t)w->ret, 4);
    put_le(out + 17, (uint64_t)w->xt, 4);
    put_le(out + 21, (uint64_t)w->yt, 4);
    put_le(out + 25, (uint64_t)w->zt, 4);
}

static int wave_read(Wave *w, Dec *d) {
    w->desc = decode_symbol(d, &w->m_index);
    uint32_t sym = decode_symbol(d, &w->m_offset_diff[w->sym_last]);
    w->sym_last = sym;
    if (sym == 1) {
        w->offset += (uint64_t)w->size;
    } else if (sym == 2) {
        w->last_diff_32 = ic_decompress(&w->ic_offset, w->last_diff_32, 0);
        w->offset += (uint64_t)w->last_diff_32;
    } else if (sym == 3) {
        uint64_t low = read_int(d), high = read_int(d);
        if (high >> 32) return LSU_LAZ_OFFSET64;
        w->offset = high << 32 | low;
    }
    w->size = (int64_t)(uint32_t)ic_decompress(&w->ic_size, wrap32(w->size), 0);
    w->ret = ic_decompress(&w->ic_ret, w->ret, 0);
    w->xt = ic_decompress(&w->ic_xyz, w->xt, 0);
    w->yt = ic_decompress(&w->ic_xyz, w->yt, 1);
    w->zt = ic_decompress(&w->ic_xyz, w->zt, 2);
    return 0;
}

/* ---- the chunk --------------------------------------------------------- */

int64_t lsu_laz_decode_chunk(
    const uint8_t *data, int64_t size, int64_t start, int64_t count,
    int64_t has_gps, int64_t has_rgb, int64_t has_wave, int64_t n_extra,
    int64_t lookahead, int64_t *x, int64_t *y, int64_t *z, uint8_t *cls,
    uint8_t *rets, double *gps, uint16_t *rgb, uint8_t *extra, uint8_t *wave,
    int64_t *end_pos) {
    if (count < 1 || start < 0 || n_extra < 0) return LSU_LAZ_ARGS;
    /* the raw first point: its items back to back, then the coded rest */
    int64_t o_gps = start + 20;
    int64_t o_rgb = o_gps + (has_gps ? 8 : 0);
    int64_t o_wave = o_rgb + (has_rgb ? 6 : 0);
    int64_t o_extra = o_wave + (has_wave ? 29 : 0);
    int64_t pos = o_extra + n_extra;
    *end_pos = pos;
    if (pos > size) return LSU_LAZ_RAW_SHORT;
    const uint8_t *raw10 = data + start, *rawgps = data + o_gps;
    const uint8_t *rawrgb = data + o_rgb, *rawwave = data + o_wave;
    const uint8_t *rawextra = data + o_extra;

    size_t words = point10_words() + (has_gps ? gps_words() : 0) +
                   (has_rgb ? rgb_words() : 0) + (has_wave ? wave_words() : 0) +
                   2 * 256 * (size_t)n_extra;
    Arena a = {malloc(words * sizeof(uint32_t)), 0};
    Point10 *p10 = calloc(1, sizeof(Point10)); /* NULL lazy models */
    Gps *gpsr = has_gps ? malloc(sizeof(Gps)) : NULL;
    Rgb *rgbr = has_rgb ? malloc(sizeof(Rgb)) : NULL;
    Wave *wavr = has_wave ? malloc(sizeof(Wave)) : NULL;
    Model *m_extra = n_extra ? malloc(n_extra * sizeof(Model)) : NULL;
    uint8_t *last_extra = n_extra ? malloc(n_extra) : NULL;
    int64_t rc = 0;
    if (!a.mem || !p10 || (has_gps && !gpsr) || (has_rgb && !rgbr) ||
        (has_wave && !wavr) || (n_extra && (!m_extra || !last_extra))) {
        rc = LSU_LAZ_NOMEM;
        goto done;
    }

    Dec d = {data, size, pos, 0, 0};
    point10_init(p10, &d, &a, raw10);
    if (gpsr) gps_init(gpsr, &d, &a, rawgps);
    if (rgbr) rgb_init(rgbr, &a, rawrgb);
    if (wavr) wave_init(wavr, &d, &a, rawwave);
    for (int64_t i = 0; i < n_extra; i++) {
        model_init(&m_extra[i], 256, arena_take(&a, 256));
        last_extra[i] = rawextra[i];
    }

    x[0] = p10->x;
    y[0] = p10->y;
    z[0] = p10->z;
    cls[0] = (uint8_t)p10->classification;
    rets[0] = p10->flags & 7;
    if (gpsr) memcpy(&gps[0], &gpsr->lg[0], 8);
    if (rgbr) {
        rgb[0] = (uint16_t)rgbr->r;
        rgb[1] = (uint16_t)rgbr->g;
        rgb[2] = (uint16_t)rgbr->b;
    }
    if (wavr) memcpy(wave, rawwave, 29);
    if (n_extra) memcpy(extra, rawextra, n_extra);

    dec_init(&d);
    for (int64_t j = 1; j < count; j++) {
        if ((rc = point10_read(p10, &d))) goto done;
        x[j] = p10->x;
        y[j] = p10->y;
        z[j] = p10->z;
        cls[j] = (uint8_t)p10->classification;
        rets[j] = p10->flags & 7;
        if (gpsr) gps[j] = gps_read(gpsr, &d);
        if (rgbr) {
            rgb_read(rgbr, &d);
            rgb[3 * j] = (uint16_t)rgbr->r;
            rgb[3 * j + 1] = (uint16_t)rgbr->g;
            rgb[3 * j + 2] = (uint16_t)rgbr->b;
        }
        if (wavr) {
            if ((rc = wave_read(wavr, &d))) goto done;
            wave_write(wavr, wave + 29 * j);
        }
        for (int64_t i = 0; i < n_extra; i++) {
            last_extra[i] = (uint8_t)(last_extra[i] + decode_symbol(&d, &m_extra[i]));
            extra[n_extra * j + i] = last_extra[i];
        }
    }
    *end_pos = d.pos;
    if (d.pos - size > lookahead)
        rc = LSU_LAZ_OVERRUN;
    else if (start == 0 && size - d.pos > lookahead)
        rc = LSU_LAZ_EARLY;

done:
    for (int i = 0; p10 && i < 256; i++) {
        free(p10->m_bit_byte[i]);
        free(p10->m_classification[i]);
        free(p10->m_user_data[i]);
    }
    free(a.mem);
    free(p10);
    free(gpsr);
    free(rgbr);
    free(wavr);
    free(m_extra);
    free(last_extra);
    return rc;
}
