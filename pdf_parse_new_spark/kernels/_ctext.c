/* Content-stream text lexer + text-state machine.
 *
 * Tokenizes one PDF content stream and executes the *positional* part of
 * the text state (Tm/Td/TD/TL/T* line matrix, Tc/Tw/Tz/Ts spacing state,
 * BT resets) at C speed, emitting a compact event array. pdftext_replay
 * below replays the events — font decode, x-advance accumulation, line
 * folding — over ~10-50x fewer iterations than per-token interpretation.
 *
 * Semantics mirror pdf.js getTextContent as transcribed by
 * pdf_parse_new_spark/kernels/jsvm.py, the Python tier that renders every
 * page the C replay cannot take (and every page when no C compiler is
 * available); the equivalence is asserted by tests/test_ctext.py over the
 * reference corpus and the synthetic fixture dialects.
 *
 * Event records are 48 bytes, written into a caller-allocated buffer:
 *   int32 kind; int32 flag; int64 a; int64 b; double f0,f1,f2,f3;
 * A TJ array's strings are joined as the array is read (pdf.js
 * showSpacedTextBuffer.join(""), pdf.worker.js:36890-36909): their
 * decoded bytes go into a caller-allocated scratch blob that the flag-3
 * K_TJSTR rows index, so the replay consumes the lexer's output as is.
 * Returns the event count, -1 when the buffer is too small (caller
 * grows and retries), or -2 when the page must run through jsvm (see
 * pdftext_interpret).
 */

#include <stdint.h>
#include <stdio.h>
#include <stdlib.h>
#include <string.h>

typedef struct {
    int32_t kind;
    int32_t flag;
    int64_t a;
    int64_t b;
    double f0, f1, f2, f3;
} Ev;

enum {
    K_ANCHOR = 1, /* f0=line_x f1=y f2=sx : new line origin, cur_x resets */
    K_FONT = 2,   /* a,b = /Name span (without slash); f0 = size */
    K_STATE = 3,  /* f0=tc f1=tw f2=tz f3=rise */
    K_STR = 4,    /* a,b = string span incl delimiters; flag=1 hex : show */
    K_TJSTART = 5,
    K_TJSTR = 6,  /* flag 3: a run of TJ strings joined into the
                   * scratch blob, a,b = its [start, end) there */
    K_TJNUM = 7,  /* f0 = summed value of a run of nonzero kerns; flag =
                   * how many of them ran with an EMPTY buffer (each
                   * applies charSpacing, pdf.worker.js:36663-36675);
                   * f1 = the first kern's value when it follows a
                   * string (extraSpacing riding that string's last
                   * glyph), else 0 */
    K_TJEND = 8,
    K_XOBJ = 9,   /* a,b = /Name span (without slash) : Do operator */
    K_CM = 11,    /* f0,f1 = line origin under the NEW ctm, f2 = sx,
                   * f3 = sy : cm / Q changed the matrix mid-text — the
                   * replay refreshes the PEN (pdf.js recomputes the
                   * transform per glyph) while prevTransform keeps its
                   * old device point (it is never retransformed) */
    K_QSAVE = 14,   /* q : the replay pushes its text-state snapshot
                     * (pen/scales/tc/tw/tz/rise/font/size/line origin)
                     * — pdf.js StateManager.save clones the WHOLE
                     * TextState; the lexer keeps its own stack for the
                     * lexer-internal half (cm/tm/leading/seen_tf) */
    K_QRESTORE = 15, /* Q : the replay pops (flushing only when the
                     * font or size changed, pdf.worker.js:37112) */
    K_INH = 13,   /* f0=leading f1=rise(RAW, unscaled) : emitted
                   * immediately before every K_XOBJ so
                   * pdfb._TextInterp can hand the lexer-internal text state
                   * to the nested Form run (pdf.js clones the whole
                   * eval state into paintXObject; leading/rise never
                   * cross the other events un-scaled) */
    K_MCFLUSH = 16  /* BMC/BDC/EMC: getTextContent flushes the open
                     * item unconditionally at every marked-content op
                     * (pdf.worker.js:37075,37085,37100) */
};

/* operand kinds on the small typed stack */
enum { OP_NUM = 1, OP_STR = 2, OP_NAME = 3, OP_OTHER = 4 };

typedef struct {
    int kind;
    int flag;     /* for OP_STR: 1 = hex, 2 = complex literal */
    int64_t a, b; /* span */
    double v;     /* for OP_NUM: the value (true/false: 1/0) */
} Operand;

#define MAXOPS 64

static const unsigned char WS[256] = {
    [0x00] = 1, [0x09] = 1, [0x0A] = 1, [0x0C] = 1, [0x0D] = 1, [0x20] = 1,
};
static const unsigned char DELIM[256] = {
    ['('] = 1, [')'] = 1, ['<'] = 1, ['>'] = 1, ['['] = 1, [']'] = 1,
    ['{'] = 1, ['}'] = 1, ['/'] = 1, ['%'] = 1,
};

static long skip_ws(const unsigned char *d, long pos, long n)
{
    while (pos < n) {
        unsigned char c = d[pos];
        if (WS[c]) {
            pos++;
        } else if (c == '%') {
            while (pos < n && d[pos] != '\r' && d[pos] != '\n')
                pos++;
        } else {
            break;
        }
    }
    return pos;
}

/* literal string: pos at '(' -> end after matching ')'. *complex is set
 * when the body has escapes or nested parens (the decoders run the full
 * unescape, pdfb._parse_literal_string's grammar;
 * a clean body is just the slice between the delimiters). */
static long scan_literal(const unsigned char *d, long pos, long n,
                         int *complex)
{
    long depth = 1;
    *complex = 0;
    pos++;
    while (pos < n) {
        unsigned char c = d[pos];
        if (c == '\\') {
            *complex = 1;
            pos += 2;
            continue;
        }
        if (c == '(') {
            *complex = 1;
            depth++;
        } else if (c == ')') {
            depth--;
            if (depth == 0)
                return pos + 1;
        }
        pos++;
    }
    /* unterminated: getString is EOF-graceful ("Unterminated string"
     * warn, value = chars so far) — signalled as a NEGATIVE length so
     * content callers can defer the page to jsvm */
    return -(n + 1);
}

/* hex string: pos at '<' -> end after '>' */
static long scan_hex(const unsigned char *d, long pos, long n)
{
    pos++;
    while (pos < n && d[pos] != '>')
        pos++;
    return pos < n ? pos + 1 : n;
}

static long scan_name(const unsigned char *d, long pos, long n)
{
    pos++; /* '/' */
    while (pos < n && !WS[d[pos]] && !DELIM[d[pos]])
        pos++;
    return pos;
}

static int is_num_start(unsigned char c)
{
    return (c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.';
}

/* exact powers of ten: 10^0..10^22 are exactly representable doubles */
static const double P10[] = {
    1e0,  1e1,  1e2,  1e3,  1e4,  1e5,  1e6,  1e7,  1e8,  1e9,  1e10,
    1e11, 1e12, 1e13, 1e14, 1e15, 1e16, 1e17, 1e18, 1e19, 1e20, 1e21,
    1e22,
};

/* code point of the UTF-8 sequence at d[p], its byte length in *len;
 * a continuation byte or a cut-off sequence reads as U+FFFD, which no
 * token class holds */
static unsigned utf8_cp(const unsigned char *d, long p, long n, int *len)
{
    unsigned c = d[p];
    int k = c >= 0xF0 ? 3 : c >= 0xE0 ? 2 : c >= 0xC0 ? 1 : 0;
    *len = 1;
    if ((c >= 0x80 && !k) || p + k >= n)
        return 0xFFFDu;
    *len = k + 1;
    if (k)
        c &= 0x3Fu >> k;
    for (int i = 1; i <= k; i++)
        c = (c << 6) | (d[p + i] & 0x3Fu);
    return c;
}

/* the zero of every non-ASCII block of ten str-mode \d digits (Python
 * 3.11 `re`, Unicode 14) */
static const unsigned UNI_ZEROS[] = {
    0x660, 0x6F0, 0x7C0, 0x966, 0x9E6, 0xA66, 0xAE6, 0xB66, 0xBE6, 0xC66,
    0xCE6, 0xD66, 0xDE6, 0xE50, 0xED0, 0xF20, 0x1040, 0x1090, 0x17E0,
    0x1810, 0x1946, 0x19D0, 0x1A80, 0x1A90, 0x1B50, 0x1BB0, 0x1C40, 0x1C50,
    0xA620, 0xA8D0, 0xA900, 0xA9D0, 0xA9F0, 0xAA50, 0xABF0, 0xFF10, 0x104A0,
    0x10D30, 0x11066, 0x110F0, 0x11136, 0x111D0, 0x112F0, 0x11450, 0x114D0,
    0x11650, 0x116C0, 0x11730, 0x118E0, 0x11950, 0x11C50, 0x11D50, 0x11DA0,
    0x16A60, 0x16AC0, 0x16B50, 0x1D7CE, 0x1D7D8, 0x1D7E2, 0x1D7EC, 0x1D7F6,
    0x1E140, 0x1E2F0, 0x1E950, 0x1FBF0,
};

/* decimal digit at d[p] -> its value (byte length in *len), or -1:
 * ASCII only, or with `uni` UTF-8 input and the str-mode \d class */
static inline int digit_at(const unsigned char *d, long p, long n, int uni,
                           int *len)
{
    unsigned c = d[p];
    *len = 1;
    if (c - '0' < 10u)
        return (int)(c - '0');
    if (!uni || c < 0xC0)
        return -1;
    c = utf8_cp(d, p, n, len);
    for (size_t i = 0; i < sizeof UNI_ZEROS / sizeof UNI_ZEROS[0]; i++) {
        if (c < UNI_ZEROS[i])
            break;
        if (c < UNI_ZEROS[i] + 10)
            return (int)(c - UNI_ZEROS[i]);
    }
    return -1;
}

#define NUM_SIG 800

/* returns end position, or `pos` unchanged when no digit was present
 * (bare +/-/. is not a number). Mirrors parse_object's number grammar,
 * pdfb._NUMBER = [+-]?(\d+\.?\d*|\.\d+), exactly — including stopping
 * at a SECOND dot, so "1.2.3" lexes as 1.2 then .3. `uni` reads UTF-8
 * with Python's str-mode \d (pdfs_tokenize); digits of any script count
 * by their value, as float() reads them.
 *
 * Conversion uses the Clinger exact fast path (mantissa <= 2^53 and
 * <= 22 fraction digits: (double)m / 10^k — both operands exact, IEEE
 * division correctly rounds the true quotient, so the result is
 * bit-identical to strtod / Python float()). Anything outside that
 * provable window goes to strtod over the first NUM_SIG significant
 * digits in ASCII, a sticky 1 when a later digit is nonzero, and the
 * exponent: every midpoint between two doubles has fewer significant
 * digits, so that rounds as float() over the whole token does. Content
 * streams are overwhelmingly short decimals, so the hot path skips the
 * per-digit buffer copy AND the libc parse. */
static long scan_number(const unsigned char *d, long pos, long n,
                        double *out, int uni)
{
    long start = pos;
    int neg = 0, len, v;
    if (pos < n && (d[pos] == '+' || d[pos] == '-')) {
        neg = (d[pos] == '-');
        pos++;
    }
    unsigned long long m = 0; /* accumulated mantissa (<= 19 digits) */
    int nd = 0;               /* mantissa digits accumulated */
    int inexact = 0;          /* digits dropped past the 19-digit cap */
    long frac = 0, digits = 0, dots = 0;
    for (; pos < n; pos += len) {
        v = digit_at(d, pos, n, uni, &len);
        if (v >= 0) {
            digits++;
            if (dots)
                frac++;
            if (m == 0 && v == 0) {
                ; /* leading zero: no mantissa contribution */
            } else if (nd < 19) {
                m = m * 10 + (unsigned long long)v;
                nd++;
            } else {
                inexact = 1;
            }
        } else if (d[pos] == '.' && !dots) {
            dots++; /* a second dot always ends the token */
        } else {
            break;
        }
    }
    if (!digits)
        return start;
    if (!inexact && m <= 9007199254740992ULL && frac <= 22) {
        double x = (frac == 0) ? (double)m : (double)m / P10[frac];
        *out = neg ? -x : x;
        return pos;
    }
    /* slow path: "<kept digits>[1]e<exp>", where the value is the kept
     * digits times 10^(integer digits - leading zeros - kept) */
    {
        char buf[NUM_SIG + 32];
        int k = 0, sticky = 0, dot = 0;
        long ip = 0, lz = 0, kept = 0;
        if (neg)
            buf[k++] = '-';
        for (long i = start + (d[start] == '+' || d[start] == '-'); i < pos;
             i += len) {
            v = digit_at(d, i, n, uni, &len);
            if (v < 0) {
                dot = 1;
                continue;
            }
            ip += !dot;
            if (kept == 0 && v == 0) {
                lz++;
            } else if (kept < NUM_SIG) {
                buf[k++] = (char)('0' + v);
                kept++;
            } else {
                sticky |= v != 0;
            }
        }
        if (kept == 0) /* all zeros: "0e.." keeps the sign */
            buf[k++] = '0';
        if (sticky)
            buf[k++] = '1';
        snprintf(buf + k, sizeof buf - k, "e%ld", ip - lz - kept - sticky);
        *out = strtod(buf, NULL);
    }
    return pos;
}

/* Recursive validation mirroring pdfb.parse_object's grammar, which
 * jsvm's operand loop runs: an object that raises ValueError there returns
 * -1 here, so both tiers salvage malformed input from the SAME byte (one
 * past the failed start). Depth-capped — past the cap we treat the object
 * as invalid, which maps to parse_object's RecursionError -> page-error
 * behavior closely enough for garbage input (documented approximation). */
static long validate_object(const unsigned char *d, long pos, long n,
                            int depth)
{
    if (depth > 200)
        return -1;
    pos = skip_ws(d, pos, n);
    if (pos >= n)
        return -1;
    unsigned char c = d[pos];
    if (c == '/')
        return scan_name(d, pos, n);
    if (c == '(') {
        int cx;
        long e = scan_literal(d, pos, n, &cx);
        return e < 0 ? n : e; /* unterminated: clamp (skip-only walker) */
    }
    if (c == '<') {
        if (pos + 1 < n && d[pos + 1] == '<') {
            pos += 2;
            for (;;) {
                pos = skip_ws(d, pos, n);
                if (pos + 1 < n && d[pos] == '>' && d[pos + 1] == '>')
                    return pos + 2;
                if (pos >= n)
                    return -1; /* unterminated dict */
                if (d[pos] != '/')
                    return -1; /* dict key must be a name */
                pos = scan_name(d, pos, n);
                pos = validate_object(d, pos, n, depth + 1);
                if (pos < 0)
                    return -1;
            }
        }
        long end = scan_hex(d, pos, n);
        if (end >= n && (n == 0 || d[n - 1] != '>'))
            return -1; /* unterminated hex string raises in parse_object */
        return end;
    }
    if (c == '[') {
        pos++;
        for (;;) {
            pos = skip_ws(d, pos, n);
            if (pos >= n)
                return -1; /* unterminated array */
            if (d[pos] == ']')
                return pos + 1;
            pos = validate_object(d, pos, n, depth + 1);
            if (pos < 0)
                return -1;
        }
    }
    if (c == 't' && pos + 4 <= n && memcmp(d + pos, "true", 4) == 0)
        return pos + 4;
    if (c == 'f' && pos + 5 <= n && memcmp(d + pos, "false", 5) == 0)
        return pos + 5;
    if (c == 'n' && pos + 4 <= n && memcmp(d + pos, "null", 4) == 0)
        return pos + 4;
    if (is_num_start(c)) {
        double v;
        long end = scan_number(d, pos, n, &v, 0);
        return end == pos ? -1 : end;
    }
    return -1;
}

static int is_op_start(unsigned char c)
{
    return (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || c == '\'' ||
           c == '"';
}

static int op_arity(const unsigned char *op, long len, int *na, int *va);

/* pdf.js Lexer specialChars (pdf.worker.js:13933): whitespace +
 * delimiters stop a command token; everything else (digits, +-.*,
 * quotes) extends it while the prefix rule below allows. */
static int is_special_char(unsigned char c)
{
    return c == 0 || c == 9 || c == 10 || c == 12 || c == 13 ||
           c == ' ' || c == '%' || c == '(' || c == ')' || c == '/' ||
           c == '<' || c == '>' || c == '[' || c == ']' || c == '{' ||
           c == '}';
}

/* opMap membership INCLUDING the null-valued prefix entries (BM, BD,
 * fa/fal/fals, nu/nul, true/false/null) that steer the Lexer's
 * longest-known-prefix scan. */
static int known_tok(const unsigned char *op, long len)
{
    int na, va;
    if (op_arity(op, len, &na, &va))
        return 1;
    switch (len) {
    case 2:
        return memcmp(op, "BM", 2) == 0 || memcmp(op, "BD", 2) == 0 ||
               memcmp(op, "fa", 2) == 0 || memcmp(op, "nu", 2) == 0;
    case 3:
        return memcmp(op, "fal", 3) == 0 || memcmp(op, "nul", 3) == 0;
    case 4:
        return memcmp(op, "true", 4) == 0 ||
               memcmp(op, "fals", 4) == 0 || memcmp(op, "null", 4) == 0;
    case 5:
        return memcmp(op, "false", 5) == 0;
    }
    return 0;
}

static long scan_op(const unsigned char *d, long pos, long n)
{
    /* pdf.js Lexer command scan (pdf.worker.js:14293-14307): a KNOWN
     * token stops extending the moment the extension is unknown ("BQ"
     * lexes as B then Q — and the Q restores state!); an unknown token
     * extends freely to the next special char ("Zz" stays one unknown
     * command). The 128-char "Command token too long" throw is not
     * modeled (sub-rare; such garbage pages differ in error shape
     * only). */
    long start = pos;
    pos++;
    int known = known_tok(d + start, 1);
    while (pos < n && !is_special_char(d[pos])) {
        if (known && !known_tok(d + start, pos - start + 1))
            break;
        pos++;
        known = known_tok(d + start, pos - start);
    }
    return pos;
}

#define EMIT(K, FLAG, A, B, F0, F1, F2, F3)                                  \
    do {                                                                     \
        if (nev >= cap)                                                      \
            return -1;                                                       \
        out[nev].kind = (K);                                                 \
        out[nev].flag = (FLAG);                                              \
        out[nev].a = (A);                                                    \
        out[nev].b = (B);                                                    \
        out[nev].f0 = (F0);                                                  \
        out[nev].f1 = (F1);                                                  \
        out[nev].f2 = (F2);                                                  \
        out[nev].f3 = (F3);                                                  \
        nev++;                                                               \
    } while (0)

/* pdf.js EvaluatorPreprocessor.opMap (pdf.worker.js:38216-38592) —
 * returns 1 and fills numargs/varargs for known operators. The
 * preprocessor (read(), worker:38608-38672) skips fixed-arity ops whose
 * operand count mismatches, with a nonProcessedArgs stash; this lexer
 * handles only the exact-count fast path and DEFERS the page to jsvm
 * (return -2) the moment the stash would engage. Mirrors _OP_ARITY in
 * pdfb.py, jsvm's arity table. */
static int op_arity(const unsigned char *op, long len, int *na, int *va)
{
    *va = 0;
    if (len == 1) {
        switch (op[0]) {
        case 'w': case 'J': case 'j': case 'M': case 'i':
        case 'G': case 'g':
            *na = 1; return 1;
        case 'd': case 'm': case 'l':
            *na = 2; return 1;
        case 'c':
            *na = 6; return 1;
        case 'v': case 'y': case 'K': case 'k':
            *na = 4; return 1;
        case 'h': case 'S': case 's': case 'f': case 'F': case 'B':
        case 'b': case 'n': case 'W': case 'q': case 'Q':
            *na = 0; return 1;
        case '\'':
            *na = 1; return 1;
        case '"':
            *na = 3; return 1;
        }
        return 0;
    }
    if (len == 2) {
        unsigned short t = (unsigned short)(op[0] << 8 | op[1]);
#define OP2(A, B) ((unsigned short)((A) << 8 | (B)))
        switch (t) {
        case OP2('r', 'i'): case OP2('g', 's'): case OP2('T', 'c'):
        case OP2('T', 'w'): case OP2('T', 'z'): case OP2('T', 'L'):
        case OP2('T', 'r'): case OP2('T', 's'): case OP2('T', 'j'):
        case OP2('T', 'J'): case OP2('C', 'S'): case OP2('c', 's'):
        case OP2('s', 'h'): case OP2('E', 'I'): case OP2('D', 'o'):
        case OP2('M', 'P'):
            *na = 1; return 1;
        case OP2('T', 'f'): case OP2('T', 'd'): case OP2('T', 'D'):
        case OP2('d', '0'): case OP2('D', 'P'):
            *na = 2; return 1;
        case OP2('c', 'm'): case OP2('T', 'm'): case OP2('d', '1'):
            *na = 6; return 1;
        case OP2('r', 'e'):
            *na = 4; return 1;
        case OP2('f', '*'): case OP2('B', '*'): case OP2('b', '*'):
        case OP2('W', '*'): case OP2('B', 'T'): case OP2('E', 'T'):
        case OP2('T', '*'): case OP2('B', 'I'): case OP2('I', 'D'):
        case OP2('B', 'X'): case OP2('E', 'X'):
            *na = 0; return 1;
        case OP2('R', 'G'): case OP2('r', 'g'):
            *na = 3; return 1;
        case OP2('S', 'C'): case OP2('s', 'c'):
            *na = 4; *va = 1; return 1;
#undef OP2
        }
        return 0;
    }
    if (len == 3) {
        if (memcmp(op, "SCN", 3) == 0 || memcmp(op, "scn", 3) == 0) {
            *na = 33; *va = 1; return 1;
        }
        if (memcmp(op, "BMC", 3) == 0) { *na = 1; return 1; }
        if (memcmp(op, "BDC", 3) == 0) { *na = 2; return 1; }
        if (memcmp(op, "EMC", 3) == 0) { *na = 0; return 1; }
        return 0;
    }
    return 0;
}

/* one TJ string element -> raw bytes at out+o; returns the new offset
 * or -1 on overflow (cannot happen at cap >= n: every decode shrinks or
 * preserves its source span). Mirrors _parse_hex_string (odd final digit
 * pads with 0) and _parse_literal_string (octal 1-3 digits, line
 * continuations, unknown escape stands for itself). */
static long cz_decode(const unsigned char *d, long n, int flag,
                      long a, long b, unsigned char *out, long cap,
                      long o)
{
#define PUTB(C)                                                              \
    do {                                                                     \
        if (o >= cap)                                                        \
            return -1;                                                       \
        out[o++] = (unsigned char)(C);                                       \
    } while (0)
    if (flag == 0) { /* escape-free literal: raw slice between delims */
        long len = b - a - 2;
        if (len > 0) {
            if (o + len > cap)
                return -1;
            memcpy(out + o, d + a + 1, len);
            o += len;
        }
    } else if (flag == 1) { /* hex string */
        int hi = -1;
        for (long i = a + 1; i < b - 1; i++) {
            unsigned char c = d[i];
            int v;
            if (c >= '0' && c <= '9')
                v = c - '0';
            else if (c >= 'A' && c <= 'F')
                v = c - 'A' + 10;
            else if (c >= 'a' && c <= 'f')
                v = c - 'a' + 10;
            else
                continue;
            if (hi < 0) {
                hi = v;
            } else {
                PUTB((hi << 4) | v);
                hi = -1;
            }
        }
        if (hi >= 0)
            PUTB(hi << 4);
    } else { /* complex literal: full unescape */
        long pos = a + 1, depth = 1;
        while (pos < n) {
            unsigned char c = d[pos];
            if (c == '\\') {
                pos++;
                if (pos >= n)
                    break;
                unsigned char e = d[pos];
                if (e == 'n') {
                    PUTB('\n');
                    pos++;
                } else if (e == 'r') {
                    PUTB('\r');
                    pos++;
                } else if (e == 't') {
                    PUTB('\t');
                    pos++;
                } else if (e == 'b') {
                    PUTB('\b');
                    pos++;
                } else if (e == 'f') {
                    PUTB('\f');
                    pos++;
                } else if (e == '(' || e == ')' || e == '\\') {
                    PUTB(e);
                    pos++;
                } else if (e >= '0' && e <= '7') {
                    int v = e - '0', k = 1;
                    pos++;
                    while (pos < n && k < 3 && d[pos] >= '0' &&
                           d[pos] <= '7') {
                        v = v * 8 + (d[pos] - '0');
                        k++;
                        pos++;
                    }
                    PUTB(v & 0xFF);
                } else if (e == '\r' || e == '\n') {
                    pos++;
                    if (e == '\r' && pos < n && d[pos] == '\n')
                        pos++;
                } else {
                    PUTB(e);
                    pos++;
                }
            } else if (c == '(') {
                depth++;
                PUTB(c);
                pos++;
            } else if (c == ')') {
                depth--;
                if (depth == 0)
                    break;
                PUTB(c);
                pos++;
            } else {
                PUTB(c);
                pos++;
            }
        }
    }
#undef PUTB
    return o;
}

/* lmseed: NULL, or 2 doubles — the parent stream's LINE-matrix e/f at a
 * Form XObject Do (pdf.js clones textMatrix AND textLineMatrix; the
 * synthetic Tm prelude can only seed both together). One-shot pending
 * value: the first Td, TD, T-star, ' or " before any full Tm/BT composes
 * against it instead of tm_e/f; q/Q snapshot it with the TextState.
 *
 * scratch: the blob flag-3 K_TJSTR rows index (scap >= n suffices);
 * *scratch_len receives its used length.
 *
 * Returns: event count >= 0; -1 = event buffer too small (caller grows
 * and retries); -2 = the page must run through jsvm: pdf.js's
 * preprocessor machinery engaged (operand over/underflow stash,
 * 34-operand FormatError, true/false operand in a slot this lexer cannot
 * thread), or the text x CTM matrix picked up rotation, skew or a mirror
 * (a rotated/skewed Tm or cm, a negative Tz), which the flattened
 * translate+scale events cannot carry. */
long pdftext_interpret(const unsigned char *d, long n, Ev *out, long cap,
                       const double *lmseed, unsigned char *scratch,
                       long scap, long *scratch_len)
{
    long nev = 0;
    Operand st[MAXOPS];
    int nst = 0;
    /* buffered TJ array (emitted into out optimistically, rewound if the
     * following operator is not TJ — dash arrays "[2 4] 0 d" etc.) */
    long tj_start = -1; /* index into out of the K_TJSTART placeholder */
    long slen = 0;      /* scratch write offset */
    long tj_slen = 0;   /* ... at the buffered array's start */
    /* no Tf yet in THIS stream: pdf.js skips every text-showing op
     * (Tj/TJ/'/") until state.font is set — including the op's side
     * effects (the quotes' carriage return, "'s Tw/Tc assignment)
     * (ensureStateFont + continue, pdf.worker.js:36911-36943). The
     * engine models fonts per stream, so the gate is stream-local. */
    int seen_tf = 0;

    /* full text LINE MATRIX (Tm sets it; Td/TD/T* compose translations
     * INTO it, so offsets expressed in unscaled text units move by the
     * matrix scale — "/F1 1 Tf + 8.3 0 0 8 x y Tm" documents put the
     * real font size in the matrix and Td deltas stay unit-scaled) */
    double tm_a = 1.0, tm_b = 0.0, tm_c = 0.0, tm_d = 1.0;
    double tm_e = 0.0, tm_f = 0.0;
    /* cloned LINE matrix lagging tm (see lmseed above): pending until a
     * Td-family op consumes it or a full Tm/BT overwrites both matrices */
    double plm_e = 0.0, plm_f = 0.0;
    int have_plm = 0;
    /* the seed ARMS at the stream's first full Tm — _do_xobject always
     * prepends the cloned-tm synthetic Tm when it passes a seed, and the
     * clone describes the state AFTER that Tm (pdf.js has no such op;
     * later Tms are the form's own and overwrite both matrices) */
    int seed_pending = lmseed != NULL;
    double seed_e = lmseed ? lmseed[0] : 0.0;
    double seed_f = lmseed ? lmseed[1] : 0.0;
#define CONSUME_PLM()                                                        \
    do {                                                                     \
        if (have_plm) {                                                      \
            tm_e = plm_e;                                                    \
            tm_f = plm_f;                                                    \
            have_plm = 0;                                                    \
        }                                                                    \
    } while (0)
    double leading = 0.0, rise = 0.0;
#define LM_TRANSLATE(TXV, TYV)                                               \
    do {                                                                     \
        tm_e += (TXV) * tm_a + (TYV) * tm_c;                                 \
        tm_f += (TXV) * tm_b + (TYV) * tm_d;                                 \
    } while (0)
    double tc = 0.0, tw = 0.0, tz = 1.0;
/* the flattened events cannot carry the 2x2, so a rotated/skewed matrix
 * routes the page to the full-matrix jsvm tier (pdf.js swaps compare
 * axes per rotation quadrant, compareWithLastPosition
 * pdf.worker.js:36545-36568) */
#define DEFER_IF_ROTATED()                                                   \
    do {                                                                     \
        if (tm_b != 0.0 || tm_c != 0.0 || cm_b != 0.0 || cm_c != 0.0 ||      \
            tm_a * cm_a < 0.0) /* x-mirror: pdf.js rotate == 180 */          \
            return -2;                                                       \
    } while (0)
    /* graphics-state CTM (q/Q/cm): positions, x-scale and rise are
     * emitted TRANSFORMED, so the replay's line model compares absolute
     * coordinates the way the reference compares item.transform[5]
     * (text matrix x CTM). The emitted x-scale uses the ctm 'a'
     * coefficient — a documented translate+scale approximation (rotated
     * text keeps extracting, without word-gap geometry). */
    double cm_a = 1, cm_b = 0, cm_c = 0, cm_d = 1, cm_e = 0, cm_f = 0;
    /* q/Q stack: pdf.js's StateManager snapshots the WHOLE TextState.
     * The lexer owns cm + tm + leading/rise + tc/tw/tz + the font gate;
     * the replay snapshots its own half at the K_QSAVE/K_QRESTORE
     * events. Depth past 64 only counts (qover) so deeper Q ops pair
     * with their own q instead of desyncing the stored levels. */
    typedef struct {
        double cm[6], tm[6], tc, tw, tz, leading, rise;
        double plm_e, plm_f;
        int have_plm;
        int seen_tf;
    } QSave;
    QSave qs[64];
    int qn = 0;
    long qover = 0;
#define TX_X(LX, YY) (cm_a * (LX) + cm_c * (YY) + cm_e)
#define TX_Y(LX, YY) (cm_b * (LX) + cm_d * (YY) + cm_f)

    long pos = 0;
    /* last-two-token integrality for pdf.js's `int int R` -> Ref folding
     * (Parser.getObj, worker:13432-13438): when an unknown command
     * lexing as exactly "R" follows two integral NUMBER tokens, the trio
     * is ONE Ref operand — defer the page to jsvm. JS
     * Number.isInteger(0.0) is true, so "0.0" qualifies. */
    int tk1_int = 0, tk2_int = 0;
#define TKSHIFT(I)                                                           \
    do {                                                                     \
        tk2_int = tk1_int;                                                   \
        tk1_int = (I);                                                       \
    } while (0)
    while (pos < n) {
        pos = skip_ws(d, pos, n);
        if (pos >= n)
            break;
        unsigned char c = d[pos];

        if (c == '/') { /* name operand */
            long end = scan_name(d, pos, n);
            if (nst < MAXOPS) {
                st[nst].kind = OP_NAME;
                st[nst].a = pos + 1;
                st[nst].b = end;
                nst++;
                if (nst > 33)
                    return -2; /* 34th operand: FormatError there */
            }
            TKSHIFT(0);
            pos = end;
            continue;
        }
        if (c == '(') {
            int cx;
            long end = scan_literal(d, pos, n, &cx);
            if (end < 0)
                return -2; /* unterminated: graceful-to-EOF operand,
                            * jsvm page */
            if (nst < MAXOPS) {
                st[nst].kind = OP_STR;
                st[nst].flag = cx ? 2 : 0; /* 2 = needs full re-parse */
                st[nst].a = pos;
                st[nst].b = end;
                nst++;
                if (nst > 33)
                    return -2;
            }
            TKSHIFT(0);
            pos = end;
            continue;
        }
        if (c == '<') {
            if (pos + 1 < n && d[pos + 1] == '<') {
                long end = validate_object(d, pos, n, 0);
                if (end < 0) {
                    /* malformed dict: jsvm's parse_object raises and
                     * re-lexes from the next byte — mirror it */
                    TKSHIFT(0);
                    pos++;
                    continue;
                }
                if (nst < MAXOPS) {
                    st[nst].kind = OP_OTHER;
                    nst++;
                    if (nst > 33)
                        return -2;
                }
                TKSHIFT(0);
                pos = end;
                continue;
            }
            long end = scan_hex(d, pos, n);
            if (end >= n && (n == 0 || d[n - 1] != '>'))
                return -2; /* unterminated hex: graceful-to-EOF operand,
                            * jsvm page */
            if (nst < MAXOPS) {
                st[nst].kind = OP_STR;
                st[nst].flag = 1;
                st[nst].a = pos;
                st[nst].b = end;
                nst++;
                if (nst > 33)
                    return -2;
            }
            TKSHIFT(0);
            pos = end;
            continue;
        }
        if (c == '[') { /* array: buffer as potential TJ operand */
            /* single-pass emit for the hot path (strings + kern numbers).
             * pdf.js parses every element with the FULL Parser.getObj
             * (worker:13389-13401): command tokens become inert Cmd
             * elements (showSpacedText drops them), `int int R` folds
             * to a Ref element (eating both ints — DEFER: jsvm's
             * content reader folds exactly), ')' throws, EOF inside the array
             * is a ParserEOFException — both page stops (DEFER). */
            if (tj_start >= 0) { /* a newer array supersedes the old one */
                nev = tj_start;
                slen = tj_slen;
            }
            tj_start = nev;
            tj_slen = slen;
            EMIT(K_TJSTART, 0, 0, 0, 0, 0, 0, 0);
            pos++;
            /* in-array `int int R` trio tracking (element tokens) */
            int aj1_int = 0, aj2_int = 0;
            /* coalescing as elements arrive: a run of strings decodes
             * into ONE flag-3 K_TJSTR row over the scratch blob, zero
             * kerns are skipped (`item !== 0`), and a nonzero kern
             * either flushes a non-empty run (flag 0, f1 = its value)
             * or, after an empty run or none, merges into the array's
             * open kern row (a leading kern opens one: flag 1, f1 = 0) */
            int pend_open = 0;   /* an unflushed string run exists */
            long pend_start = 0; /* its scratch start */
            long kern_idx = -1;  /* the open kern row */
/* decode the string element at pos..END onto the open run */
#define TJ_APPEND(FLAG, END)                                                 \
    do {                                                                     \
        if (!pend_open) {                                                    \
            pend_open = 1;                                                   \
            pend_start = slen;                                               \
        }                                                                    \
        slen = cz_decode(d, n, (FLAG), pos, (END), scratch, scap, slen);     \
        if (slen < 0)                                                        \
            return -1;                                                       \
    } while (0)
            for (;;) {
                pos = skip_ws(d, pos, n);
                if (pos >= n)
                    return -2; /* ParserEOFException: page stop there */
                if (d[pos] == ']')
                    break;
                unsigned char e = d[pos];
                if (e == '(') {
                    int cx;
                    long end = scan_literal(d, pos, n, &cx);
                    if (end < 0)
                        return -2; /* unterminated string */
                    TJ_APPEND(cx ? 2 : 0, end);
                    pos = end;
                    aj2_int = aj1_int; aj1_int = 0;
                } else if (e == '<' && pos + 1 < n && d[pos + 1] == '<') {
                    long end = validate_object(d, pos, n, 1);
                    if (end < 0)
                        return -2; /* malformed dict: page stop there */
                    pos = end; /* dict element: valid, not text */
                    aj2_int = aj1_int; aj1_int = 0;
                } else if (e == '<') {
                    long end = scan_hex(d, pos, n);
                    if (end >= n && (n == 0 || d[n - 1] != '>'))
                        return -2; /* unterminated hex: page stop there */
                    TJ_APPEND(1, end);
                    pos = end;
                    aj2_int = aj1_int; aj1_int = 0;
                } else if (e == '/') {
                    pos = scan_name(d, pos, n); /* valid elem, not text */
                    aj2_int = aj1_int; aj1_int = 0;
                } else if (e == '[') {
                    long end = validate_object(d, pos, n, 1);
                    if (end < 0)
                        return -2;
                    pos = end; /* nested array: valid, TJ ignores lists */
                    aj2_int = aj1_int; aj1_int = 0;
                } else if (is_num_start(e)) {
                    double v;
                    long nend = scan_number(d, pos, n, &v, 0);
                    if (nend == pos)
                        return -2; /* sign/dot lead-in: exact model */
                    if (nend < n && (d[nend] == 'e' || d[nend] == 'E' ||
                                     d[nend] == '-'))
                        return -2; /* getNumber continues the token */
                    pos = nend;
                    if (v == 0.0) {
                        ; /* zero kern: skipped */
                    } else if (pend_open && slen > pend_start) {
                        EMIT(K_TJSTR, 3, pend_start, slen, 0, 0, 0, 0);
                        pend_open = 0;
                        /* f1: the extraSpacing riding the run's LAST
                         * glyph, dropped when that glyph is box-rejected
                         * (pdf.js translates the reject path by
                         * scaledDim only, pdf.worker.js:36704-36711) */
                        kern_idx = nev;
                        EMIT(K_TJNUM, 0, 0, 0, v, v, 0, 0);
                    } else {
                        if (pend_open) { /* the run joined to "" */
                            slen = pend_start;
                            pend_open = 0;
                        }
                        if (kern_idx >= 0) {
                            out[kern_idx].f0 += v;
                            out[kern_idx].flag += 1;
                        } else {
                            kern_idx = nev;
                            EMIT(K_TJNUM, 1, 0, 0, v, 0, 0, 0);
                        }
                    }
                    aj2_int = aj1_int;
                    aj1_int = (v == (double)(long long)v &&
                               v >= -9.007199254740992e15 &&
                               v <= 9.007199254740992e15);
                } else if (e == 't' && pos + 4 <= n &&
                           memcmp(d + pos, "true", 4) == 0) {
                    pos += 4;
                    aj2_int = aj1_int; aj1_int = 0;
                } else if (e == 'f' && pos + 5 <= n &&
                           memcmp(d + pos, "false", 5) == 0) {
                    pos += 5;
                    aj2_int = aj1_int; aj1_int = 0;
                } else if (e == 'n' && pos + 4 <= n &&
                           memcmp(d + pos, "null", 4) == 0) {
                    pos += 4;
                    aj2_int = aj1_int; aj1_int = 0;
                } else if (is_op_start(e)) {
                    long end = scan_op(d, pos, n);
                    if (end - pos == 1 && e == 'R' && aj1_int && aj2_int)
                        return -2; /* Ref element eats both kerns there */
                    if (end - pos > 128)
                        return -2; /* "Command token too long" */
                    pos = end; /* inert Cmd element: dropped */
                    aj2_int = aj1_int; aj1_int = 0;
                } else if (e == ')') {
                    return -2; /* Lexer FormatError: page stop there */
                } else if (e == '>') {
                    pos += (pos + 1 < n && d[pos + 1] == '>') ? 2 : 1;
                    aj2_int = aj1_int; aj1_int = 0; /* Cmd elem dropped */
                } else if (e == '{' || e == '}') {
                    pos++;
                    aj2_int = aj1_int; aj1_int = 0;
                } else if ((e < 0x20 || e > 0x7f) && pos + 1 < n &&
                           d[pos + 1] >= 0x20 && d[pos + 1] <= 0x7f) {
                    pos++; /* unprintable single-char Cmd (worker:14288) */
                    aj2_int = aj1_int; aj1_int = 0;
                } else {
                    /* garbage-lead token: extends freely to the next
                     * special char (never a known prefix) */
                    pos++;
                    while (pos < n && !is_special_char(d[pos]))
                        pos++;
                    aj2_int = aj1_int; aj1_int = 0;
                }
            }
            pos++; /* ']' */
            if (pend_open)
                EMIT(K_TJSTR, 3, pend_start, slen, 0, 0, 0, 0);
            EMIT(K_TJEND, 0, 0, 0, 0, 0, 0, 0);
            if (nst < MAXOPS) {
                st[nst].kind = OP_OTHER;
                nst++;
                if (nst > 33)
                    return -2;
            }
            TKSHIFT(0);
            continue;
        }
        if (is_num_start(c)) {
            double v;
            long end = scan_number(d, pos, n, &v, 0);
            if (end == pos)
                return -2; /* sign/dot lead-in: getNumber's graceful-0
                            * or FormatError — jsvm page */
            if (end < n &&
                (d[end] == 'e' || d[end] == 'E' || d[end] == '-'))
                return -2; /* e-notation / mid-token minus continue the
                            * token in getNumber (worker:13992-14022) */
            if (nst < MAXOPS) {
                st[nst].kind = OP_NUM;
                st[nst].v = v;
                nst++;
                if (nst > 33)
                    return -2;
            }
            TKSHIFT(v == (double)(long long)v &&
                    v >= -9.007199254740992e15 &&
                    v <= 9.007199254740992e15);
            pos = end;
            continue;
        }
        if (is_op_start(c)) {
            long end = scan_op(d, pos, n);
            long oplen = end - pos;
            const unsigned char *op = d + pos;
            pos = end;

            if (oplen == 1 && op[0] == 'R' && tk1_int && tk2_int)
                return -2; /* `int int R` folds to ONE Ref operand there */
            if (oplen > 128)
                return -2; /* "Command token too long" FormatError */
            TKSHIFT(0);

            /* true/false are OPERANDS (JS arithmetic coerces them to
             * 1/0 — probed live: `5 true Tc` runs Tc(true)); a parsed
             * null is dropped without clearing pending operands
             * (read(): `if (obj !== null)`). The TJ event buffer stays
             * pending across operands, like any other push. */
            if (oplen == 4 && memcmp(op, "true", 4) == 0) {
                if (nst < MAXOPS) {
                    st[nst].kind = OP_NUM;
                    st[nst].v = 1.0;
                    nst++;
                    if (nst > 33)
                        return -2; /* 34th operand: FormatError there */
                }
                continue;
            }
            if (oplen == 5 && memcmp(op, "false", 5) == 0) {
                if (nst < MAXOPS) {
                    st[nst].kind = OP_NUM;
                    st[nst].v = 0.0;
                    nst++;
                    if (nst > 33)
                        return -2;
                }
                continue;
            }
            if (oplen == 4 && memcmp(op, "null", 4) == 0)
                continue;
            {
                int numargs, varargs;
                if (!op_arity(op, oplen, &numargs, &varargs))
                    /* unknown command: pdf.js warns and KEEPS the
                     * pending operands (and with them our buffered TJ
                     * events) for the next operator */
                    continue;
                if (!varargs && nst != numargs)
                    return -2; /* stash would engage: jsvm page */
            }

            /* JS value-coercion defer: a non-NUM operand in a numeric
             * text-state slot (or a non-NAME in Tf's font slot) needs
             * pdf.js's raw-store + use-site coercion semantics — string
             * concat in `charSpacing + extraSpacing` ("5"+0 == "50"),
             * ToNumber in every multiply, NaN position cascades. The
             * page runs through the raw-value jsvm tier instead.
             * Numeric NAMES defer too: pdf.js
             * Name instances coerce to "[object Object]" == NaN, not
             * to their text. */
            if ((oplen == 2 && op[0] == 'T' && op[1] == 'j') ||
                (oplen == 1 && (op[0] == '\'' || op[0] == '"'))) {
                /* an array is pending at a show op: if it is the
                 * effective chars operand, charsToGlyphs throws (page
                 * stop). The jsvm tier re-derives the exact stack
                 * shape (a stashed extra array does NOT throw). */
                if (tj_start >= 0)
                    return -2;
                /* ANY non-string chars operand touches the per-font
                 * Font._charsCache with a STRINGIFIED key: a hit shows
                 * the cached string's glyphs, a miss poisons the key
                 * with [] (muting later equal-key shows). Exact only
                 * in the raw-value jsvm tier. */
                if (nst >= 1 && st[nst - 1].kind != OP_STR)
                    return -2;
            }
            if (oplen == 2 && op[0] == 'T') {
                int ncheck = 0;
                switch (op[1]) {
                case 'c': case 'w': case 'z': case 'L': case 's':
                    ncheck = 1; break;
                case 'd': case 'D':
                    ncheck = 2; break;
                case 'm':
                    ncheck = 6; break;
                case 'f':
                    if (nst >= 2 && (st[nst - 1].kind != OP_NUM ||
                                     st[nst - 2].kind != OP_NAME))
                        return -2;
                    break;
                }
                for (int ci = 0; ci < ncheck && ci < nst; ci++)
                    if (st[nst - 1 - ci].kind != OP_NUM)
                        return -2;
            } else if (oplen == 2 && op[0] == 'c' && op[1] == 'm') {
                /* cm feeds Util.transform: junk operands poison ctm */
                for (int ci = 0; ci < 6 && ci < nst; ci++)
                    if (st[nst - 1 - ci].kind != OP_NUM)
                        return -2;
            } else if (oplen == 1 && op[0] == '"' && nst >= 3) {
                if (st[nst - 3].kind != OP_NUM ||
                    st[nst - 2].kind != OP_NUM)
                    return -2;
            }

            int is_tj_array_op =
                (oplen == 2 && op[0] == 'T' && op[1] == 'J');
            if (tj_start >= 0 && !is_tj_array_op) {
                nev = tj_start; /* array wasn't a TJ operand: discard */
                slen = tj_slen;
            }

            if (oplen == 2 && op[0] == 'T') {
                /* every numeric operand here is an OP_NUM: the
                 * coercion check above sends any other to jsvm */
                switch (op[1]) {
                case 'f': /* name size Tf */
                    if (nst >= 2) {
                        if (st[nst - 1].v < 0.0)
                            return -2; /* negative size flips the
                                          compare frame by 180 (both
                                          tsm rows scale by fs) — jsvm
                                          page */
                        EMIT(K_FONT, 0, st[nst - 2].a, st[nst - 2].b,
                             st[nst - 1].v, 0, 0, 0);
                        seen_tf = 1;
                    }
                    break;
                case 'd': /* tx ty Td */
                    if (nst >= 2) {
                        CONSUME_PLM();
                        LM_TRANSLATE(0.0, st[nst - 1].v);
                        LM_TRANSLATE(st[nst - 2].v, 0.0);
                        EMIT(K_ANCHOR, 0, 0, 0, TX_X(tm_e, tm_f), TX_Y(tm_e, tm_f), tm_a * cm_a, tm_d * cm_d);
                    }
                    break;
                case 'D': /* tx ty TD : sets the leading too */
                    if (nst >= 2) {
                        leading = -st[nst - 1].v;
                        CONSUME_PLM();
                        LM_TRANSLATE(0.0, st[nst - 1].v);
                        LM_TRANSLATE(st[nst - 2].v, 0.0);
                        EMIT(K_ANCHOR, 0, 0, 0, TX_X(tm_e, tm_f), TX_Y(tm_e, tm_f), tm_a * cm_a, tm_d * cm_d);
                    }
                    break;
                case 'm': /* a b c d e f Tm */
                    if (nst >= 6) {
                        tm_f = st[nst - 1].v;
                        if (seed_pending) { /* arm the lm clone */
                            plm_e = seed_e;
                            plm_f = seed_f;
                            have_plm = 1;
                            seed_pending = 0;
                        } else {
                            have_plm = 0;
                        }
                        tm_e = st[nst - 2].v;
                        tm_a = st[nst - 6].v != 0.0 ? st[nst - 6].v : 1.0;
                        tm_b = st[nst - 5].v;
                        tm_c = st[nst - 4].v;
                        tm_d = st[nst - 3].v != 0.0 ? st[nst - 3].v : 1.0;
                        DEFER_IF_ROTATED();
                        /* flag=1: Tm anchor — the only op that runs
                         * updateAdvanceScale (pdf.worker.js:36871), so
                         * only it can zero an open item's width (the
                         * textOrientation==0 flush) */
                        EMIT(K_ANCHOR, 1, 0, 0, TX_X(tm_e, tm_f), TX_Y(tm_e, tm_f), tm_a * cm_a, tm_d * cm_d);
                        /* rise is emitted PRE-SCALED by the matrix d; a
                         * Tm that changes d must refresh it (pdf.js
                         * applies rise through tsm at every glyph —
                         * always current-matrix-scaled) */
                        if (rise != 0.0)
                            EMIT(K_STATE, 0, 0, 0, tc, tw, tz,
                                 rise * tm_d * cm_d);
                    }
                    break;
                case 'L':
                    if (nst >= 1)
                        leading = st[nst - 1].v;
                    break;
                case 's':
                    if (nst >= 1) {
                        rise = st[nst - 1].v;
                        EMIT(K_STATE, 0, 0, 0, tc, tw, tz, rise * tm_d * cm_d);
                    }
                    break;
                case 'c':
                    if (nst >= 1) {
                        tc = st[nst - 1].v;
                        EMIT(K_STATE, 0, 0, 0, tc, tw, tz, rise * tm_d * cm_d);
                    }
                    break;
                case 'w':
                    if (nst >= 1) {
                        tw = st[nst - 1].v;
                        EMIT(K_STATE, 0, 0, 0, tc, tw, tz, rise * tm_d * cm_d);
                    }
                    break;
                case 'z':
                    if (nst >= 1) {
                        /* no zero guard: pdf.js keeps hscale 0 (all
                         * advances x0, equal-position joins) */
                        tz = st[nst - 1].v / 100.0;
                        if (tz < 0.0)
                            /* negative Tz mirrors the writing
                             * direction (pdf.js rotate == 180 via the
                             * textHScale sign): the flattened events
                             * can't carry it — jsvm page */
                            return -2;
                        EMIT(K_STATE, 0, 0, 0, tc, tw, tz, rise * tm_d * cm_d);
                    }
                    break;
                case '*':
                    CONSUME_PLM();
                    LM_TRANSLATE(0.0, -leading);
                    EMIT(K_ANCHOR, 0, 0, 0, TX_X(tm_e, tm_f), TX_Y(tm_e, tm_f), tm_a * cm_a, tm_d * cm_d);
                    break;
                case 'j': /* Tj */
                    if (seen_tf && nst >= 1 && st[nst - 1].kind == OP_STR)
                        EMIT(K_STR, st[nst - 1].flag, st[nst - 1].a,
                             st[nst - 1].b, 0, 0, 0, 0);
                    break;
                case 'J': /* TJ: keep the buffered array events */
                    if (!seen_tf && tj_start >= 0) {
                        nev = tj_start; /* pre-Tf: drop the whole array */
                        slen = tj_slen;
                    } else if (tj_start < 0 && seen_tf && nst >= 1 &&
                             st[nst - 1].kind == OP_STR)
                        /* TJ over a PLAIN STRING iterates its chars —
                         * all strings, one buffered flush == Tj
                         * (pdf.worker.js:36890-36909); without this the
                         * show was silently dropped ((abc) ] TJ — the
                         * stray ']' keeps the operand, probed live) */
                        EMIT(K_STR, st[nst - 1].flag, st[nst - 1].a,
                             st[nst - 1].b, 0, 0, 0, 0);
                    tj_start = -1;
                    break;
                }
            } else if (oplen == 1 && (op[0] == '\'' || op[0] == '"') &&
                       seen_tf) {
                CONSUME_PLM();
                LM_TRANSLATE(0.0, -leading);
                EMIT(K_ANCHOR, 0, 0, 0, TX_X(tm_e, tm_f), TX_Y(tm_e, tm_f), tm_a * cm_a, tm_d * cm_d);
                if (op[0] == '"' && nst >= 3) { /* aw ac string " */
                    tw = st[nst - 3].v;
                    tc = st[nst - 2].v;
                    EMIT(K_STATE, 0, 0, 0, tc, tw, tz, rise * tm_d * cm_d);
                }
                if (nst >= 1 && st[nst - 1].kind == OP_STR)
                    EMIT(K_STR, st[nst - 1].flag, st[nst - 1].a,
                         st[nst - 1].b, 0, 0, 0, 0);
            } else if (oplen == 2 && op[0] == 'D' && op[1] == 'o') {
                /* paintXObject flushes BEFORE resolving anything —
                 * images, missing names, junk operands all flush
                 * (pdf.worker.js:36946); a zero span marks a non-name
                 * operand (the consumer flushes, resolves nothing).
                 * The CURRENT ctm (diagonal + translate) rides along
                 * so the nested form run composes page cm x /Matrix
                 * like pdf.js's cloned state; K_INH carries the
                 * lexer-internal leading + RAW rise (the K_STATE rise
                 * is matrix-pre-scaled and can't round-trip into a
                 * synthetic Ts). */
                long xa = 0, xb = 0;
                if (nst >= 1 && st[nst - 1].kind == OP_NAME) {
                    xa = st[nst - 1].a;
                    xb = st[nst - 1].b;
                }
                /* f2/f3: the parent's LINE matrix e/f in TEXT space (the
                 * pending clone when one is still armed) — the nested
                 * run's lmseed */
                EMIT(K_INH, 0, 0, 0, leading, rise,
                     have_plm ? plm_e : tm_e, have_plm ? plm_f : tm_f);
                EMIT(K_XOBJ, 0, xa, xb, cm_a, cm_d, cm_e, cm_f);
            } else if (oplen == 1 && op[0] == 'q') {
                if (qn < 64) {
                    QSave *s = &qs[qn];
                    s->cm[0] = cm_a; s->cm[1] = cm_b; s->cm[2] = cm_c;
                    s->cm[3] = cm_d; s->cm[4] = cm_e; s->cm[5] = cm_f;
                    s->tm[0] = tm_a; s->tm[1] = tm_b; s->tm[2] = tm_c;
                    s->tm[3] = tm_d; s->tm[4] = tm_e; s->tm[5] = tm_f;
                    s->tc = tc; s->tw = tw; s->tz = tz;
                    s->leading = leading; s->rise = rise;
                    s->plm_e = plm_e; s->plm_f = plm_f;
                    s->have_plm = have_plm;
                    s->seen_tf = seen_tf;
                    qn++;
                    EMIT(K_QSAVE, 0, 0, 0, 0, 0, 0, 0);
                } else {
                    qover++;
                }
            } else if (oplen == 1 && op[0] == 'Q') {
                if (qover > 0) {
                    qover--;
                } else if (qn > 0) {
                    const QSave *s = &qs[--qn];
                    cm_a = s->cm[0]; cm_b = s->cm[1]; cm_c = s->cm[2];
                    cm_d = s->cm[3]; cm_e = s->cm[4]; cm_f = s->cm[5];
                    tm_a = s->tm[0]; tm_b = s->tm[1]; tm_c = s->tm[2];
                    tm_d = s->tm[3]; tm_e = s->tm[4]; tm_f = s->tm[5];
                    tc = s->tc; tw = s->tw; tz = s->tz;
                    leading = s->leading; rise = s->rise;
                    plm_e = s->plm_e; plm_f = s->plm_f;
                    have_plm = s->have_plm;
                    seen_tf = s->seen_tf;
                    /* the replay restores its own snapshot — pen, scales
                     * and scaled rise were all taken under the very
                     * matrices just restored, so no K_CM / K_STATE
                     * refresh is needed (or correct) here */
                    EMIT(K_QRESTORE, 0, 0, 0, 0, 0, 0, 0);
                }
            } else if (oplen == 2 && op[0] == 'c' && op[1] == 'm') {
                /* CTM' = m x CTM */
                if (nst >= 6) {
                    double ma = st[nst - 6].v, mb = st[nst - 5].v;
                    double mc = st[nst - 4].v, md = st[nst - 3].v;
                    double me = st[nst - 2].v, mf = st[nst - 1].v;
                    double na = ma * cm_a + mb * cm_c;
                    double nb = ma * cm_b + mb * cm_d;
                    double nc = mc * cm_a + md * cm_c;
                    double nd = mc * cm_b + md * cm_d;
                    double ne = me * cm_a + mf * cm_c + cm_e;
                    double nf = me * cm_b + mf * cm_d + cm_f;
                    cm_a = na;
                    cm_b = nb;
                    cm_c = nc;
                    cm_d = nd;
                    cm_e = ne;
                    cm_f = nf;
                    DEFER_IF_ROTATED();
                    EMIT(K_CM, 0, 0, 0, TX_X(tm_e, tm_f), TX_Y(tm_e, tm_f),
                         tm_a * cm_a, tm_d * cm_d);
                    if (rise != 0.0) /* refresh matrix-scaled rise */
                        EMIT(K_STATE, 0, 0, 0, tc, tw, tz,
                             rise * tm_d * cm_d);
                }
            } else if (oplen == 2 && op[0] == 'B' && op[1] == 'T') {
                tm_a = 1.0;
                tm_b = 0.0;
                tm_c = 0.0;
                tm_d = 1.0;
                tm_e = 0.0;
                tm_f = 0.0;
                have_plm = 0; /* beginText resets BOTH matrices */
                seed_pending = 0;
                /* leading/Tc/Tw/Tz AND rise persist across BT — pdf.js
                 * beginText resets only the matrices; textRise lives in
                 * the text state (verified vs live node: a 30 Ts set in
                 * one BT block still lifts the next block's glyphs) */
                EMIT(K_STATE, 0, 0, 0, tc, tw, tz, rise * tm_d * cm_d);
                EMIT(K_ANCHOR, 0, 0, 0, TX_X(0.0, 0.0), TX_Y(0.0, 0.0), cm_a, cm_d);
            } else if (oplen == 2 && op[0] == 'B' && op[1] == 'I') {
                /* inline image: pdf.js's makeInlineImage end-finding
                 * (filter-specific scanners, 15-byte window mini-lexer,
                 * stale-currentChar splice — worker:13449-13762) lives
                 * in jsvm (its content reader); zero hits on the
                 * real corpus, so DEFER the page rather than port it */
                return -2;
            } else if (oplen == 3 && op[2] == 'C' &&
                       ((op[0] == 'B' && (op[1] == 'M' || op[1] == 'D'))
                        || (op[0] == 'E' && op[1] == 'M'))) {
                /* BMC/BDC/EMC flush the open item unconditionally
                 * (pdf.worker.js:37075,37085,37100) — the next show
                 * starts a new item at the CURRENT pen, so a preceding
                 * carriage-return's y lands on the item boundary */
                EMIT(K_MCFLUSH, 0, 0, 0, 0, 0, 0, 0);
            }
            /* all other operators: no-ops for text extraction */
            if (tj_start >= 0 && !is_tj_array_op)
                tj_start = -1;
            nst = 0;
            continue;
        }
        if (c == ')')
            return -2; /* Lexer "Illegal character": page stop there,
                        * two tokens early through the lookahead of
                        * jsvm's content reader */
        /* unexpected byte (e.g. ']' '}' '{' '>'): skip, like jsvm */
        TKSHIFT(0);
        pos++;
    }
    /* trailing unconsumed TJ buffer: drop it */
    if (tj_start >= 0) {
        nev = tj_start;
        slen = tj_slen;
    }
    *scratch_len = slen;
    return nev;
#undef TX_X
#undef TX_Y
#undef LM_TRANSLATE
#undef CONSUME_PLM
#undef DEFER_IF_ROTATED
#undef TJ_APPEND
}

/* ------------------------------------------------------------------ *
 * pdftext_replay — event replay at C speed.
 *
 * Consumes the event array produced by pdftext_interpret and performs
 * what jsvm.JsVM does per glyph in Python: font decode through
 * per-font byte->UTF-8 translate tables, x-advance accumulation
 * (widths + Tc/Tw/Tz), and the show()/line-fold model (y-tolerance
 * breaks, gap-fraction word spaces), writing final UTF-8 text into
 * `out`. Returns at K_XOBJ events (index returned; pdfb._TextInterp
 * recurses into the Form XObject, then resumes at index+1) — by
 * construction no K_XOBJ can occur between K_TJSTART and K_TJEND, so
 * no TJ scratch crosses a segment boundary. Fonts must all be simple
 * (1-byte, non-identity, no RTL-capable table entries); the caller
 * (pdfb._TextInterp._c_plan) prescans K_FONT events and runs the page
 * through jsvm otherwise.
 *
 * state: 32 doubles, in-out (written back only on success; slot
 * groups named in pdfb as _ST_TEXT / _ST_CLOSURE):
 *   0 y  1 cur_x  2 size  3 sx  4 tc  5 tw  6 tz  7 rise
 *   8 last_y  9 have_last_y  10 last_end_x  11 have_last_end_x
 *   12 line_open  13 last_char(byte)  14 cur_font  15 pending_space
 *   16 glyph_y  17 have_glyph_y  18 force_flush  19 scale_flush
 *   20 item_size  21-24 view box  25 have_vb  26 pending_multi
 *   27 line_ox  28 line_oy  29 sy  30 item_hsize  31 wreg
 * Returns: nev when done, the K_XOBJ event index to hand to the caller,
 * or -1 when `out` is full (caller grows and retries; state intact).
 */

#include <math.h>

#define RP_Y_TOL 1.0
#define RP_GAP_FRACTION 0.102
#define RP_TJ_SPACE_THRESHOLD 180.0

/* cross-axis device font size: |sy| from the last anchor; before any
 * anchor sets sy, fall back to the writing-axis scale */
#define RP_HS(stp) \
    ((stp)->size * ((stp)->sy != 0.0 ? fabs((stp)->sy) : (stp)->sx))

typedef struct {
    double y, cur_x, size, sx, sy, line_ox, line_oy, tc, tw, tz, rise;
    /* wreg: the WIDTH REGISTER — pdf.js's textContentItem.width. It
     * starts at 0 (ensureTextContentItem) and grows by each appended
     * glyph's scaledDim plus every ABSORBED compare advance (the
     * tracking-band else and the in-flow fake-space paths run
     * width += advanceX, which can be negative: a tightened kern
     * absorbed over a zero-width run drives the register negative).
     * textOrientation = Math.sign(width) multiplies every cascade
     * threshold, so register == 0 degenerates every band (any
     * positive advance falls outside addFakeSpaces' empty in-flow
     * window: flush + standalone " " at prevTransform; any negative
     * advance takes the carriage-return band) and register < 0
     * inverts them (the negative-Tz orientation). Like item_size, the
     * register is STALE across flushes (flushTextContentItem never
     * resets width; only the next ensureTextContentItem does). The
     * replay tracks it exactly but DEFERS the page to jsvm (return -3)
     * whenever a decision would read a register <= 0. */
    double wreg;
    /* two y trackers, mirroring the reference's two-stage assembly:
     * pdf.js decides flush/EOL/space per glyph against the PREVIOUS
     * GLYPH position (textContentItem.prevTransform,
     * pdf.worker.js:36614-36615), while pdf-parse emits "\n" by
     * comparing successive ITEM anchor y's (item.transform[5] set at
     * ensureTextContentItem) against Y_TOLERANCE (lib/pdf-parse.js:30).
     * last_y == the current item's anchor y; glyph_y == the previous
     * glyph's y (last_end_x its pen x). force_flush mirrors
     * flushTextContentItem on font change / Do / stream end
     * (pdf.worker.js:36841,36950).
     * item_size: the compare uses the ITEM-STALE font scale
     * (thresholds captured at ensureTextContentItem; textAdvanceScale
     * from the last update) — not the scale of the incoming glyph.
     * item_hsize: the item's CROSS-AXIS height — pdf.js's
     * textContentItem.height = hypot(trm[2], trm[3]), captured at
     * ensureTextContentItem and used for the EOL / 0.25
     * vertical-shift thresholds. Differs from item_size under
     * non-uniform scales. */
    double last_y, last_end_x, glyph_y, item_size, item_hsize;
    double vb0, vb1, vb2, vb3; /* page view box (pdf.js viewBox clip) */
    int have_last_y, have_last_end_x, have_glyph_y, have_vb;
    /* eager line model: breaks and word-gap spaces are emitted inline
     * into `out`; line_open tracks "anything on the current line" and
     * last_char is the last emitted char of that line. pending_multi:
     * the pending whitespace run had >= 2 glyphs. pdf.js's
     * shouldAddWhitepsace consults the last TWO saved glyphs
     * (twoLastChars, pdf.worker.js:36373-36385): a run of two-plus
     * spaces makes it FALSE, so in the sub-trackingSpaceMin window the
     * space never materializes ("nu   " then "  eta" at a near-zero
     * gap reads "nueta" in the reference). scale_flush: a Tm scale
     * change ran updateAdvanceScale on an open item, zeroing its
     * width — textOrientation becomes Math.sign(0) == 0 at the next
     * glyph's compare, forcing the carriage-return flush (advanceX <
     * 0) or the standalone-space + flush path (advanceX > 0). */
    int line_open, pending_space, pending_multi, force_flush, scale_flush;
    unsigned char last_char;
    long cur_font;
} RState;

/* per-glyph item splitting at quadrant 0 (jsvm's per-glyph
 * compare_with_last_position, pdf.worker.js:36526-36660):
 * one record per INTERNAL space run whose advance leaves the in-flow
 * fake-space window ((0.102, 0.6] x item font size) under BOTH
 * candidate item sizes — the item splits there, the run riding as the
 * next segment's leading pend. off = staged offset where the run's
 * first space lands (segment boundary); seg_first = first non-space
 * px of the segment ENDING at this run; prev_end = pen after that
 * segment's last non-space glyph (pdf.js prevTransform). Splits past
 * RP_MAX_RUNS are treated as in-flow. */
#define RP_MAX_RUNS 64
typedef struct {
    long off;
    double seg_first, prev_end;
    int has_first;
    double segw;  /* the segment's WIDTH-REGISTER contribution */
    int hadw;     /* appended a width!=0 glyph (prevTransform moved) */
} SegRec;

/* decode ONE string item (span a..b, flag as in K_STR) through the
 * current font: appends UTF-8 at out+*olen, accumulates raw glyph
 * count, 0x20 count and width sum. Returns 0, or -1 on overflow. */
static int rp_decode(const unsigned char *d, long n, int flag, long a,
                     long b, const unsigned char *tb, const int32_t *to,
                     const double *w, const unsigned char *ct,
                     unsigned char *out, long *olen,
                     long ocap, long *glyphs, long *spaces, double *wsum,
                     int lgap, const RState *rst, double start_x,
                     double *prev_x_out, int *have_prev,
                     double *first_x_out, int *have_first,
                     long *clipped,
                     SegRec *runs, int *nruns, int *runs_ok,
                     double prev0, int have_prev0,
                     double zfb, int have_zfb, int zw_item,
                     double *lastseg_fx, int *lastseg_has,
                     long *tail_sp, int *last_reject, int *last_sp,
                     double reg0, double *lastseg_w, int *lastseg_hadw,
                     int *defer, int *last_cf, double *premin)
{
    long o = *olen;
    /* quad-0 split collection (SegRec): run state machine over glyph
     * positions; prev0 = the TJ buffer's prevTransform so a LEADING
     * run of this element counts as internal (split at off == start).
     * runs_ok drops to 0 on any multi-char decode (one glyph must
     * decode to one char) — the caller then discards. */
    int runopen_ = 0, hrpe_ = 0, hsegfx_ = 0, perglyph_ = 0;
    double runprev_ = 0.0, rpe_ = 0.0, segfx_ = 0.0;
    long runoff_ = 0;
    double rfs_ = 0.0, rstale_ = 0.0;
    /* live WIDTH REGISTER through the walk (reg0 = the caller's value
     * at this item's first glyph) and the current segment's
     * contribution; a compare reading a register <= 0 DEFERS the page
     * (the zero/negative orientation bands live in jsvm only) */
    double wlive_ = reg0, segw_ = 0.0;
    int hadw_ = 0;
    int runnull_ = 0;
    long runcnt_ = 0;
    /* letter-gap join spaces WITHHELD before space glyphs: pdf.js's
     * compare never runs at a whitespace-category glyph (the ws branch
     * skips it, pdf.worker.js:36693-36703), so no fake space lands
     * between the last real glyph and a trailing space run — the ring
     * sees exactly the real glyphs. A withheld join materializes only
     * when a later REAL glyph arrives (inner run; order within the
     * all-space run is immaterial) and is DISCARDED at item end
     * (trailing run). Joins are also suppressed until the item's
     * first REAL glyph (leading run): that gap belongs to the
     * BOUNDARY compare, whose advance spans the space's translate —
     * a joined leading 2-run reads as ring [' ',' '] and vanishes
     * the boundary space pdf.js keeps in the tracking band
     * (distilled: '6.5 Tc [(i) 1500] TJ ( i) Tj' reads 'i i'). */
    long pendj_ = 0;
    long seenreal_ = 0;
    /* ACCUMULATIVE pen in pdf.js's per-glyph add order (jsvm's
     * build_item, pdf.worker.js:36658-36740): width translate then charSpacing translate for
     * real glyphs, ONE summed translate for whitespace, width-only
     * for box-rejected — the equal-position shortcut depends on the
     * tiny +/- increments round-tripping at the pen's magnitude. */
    double pen_ = start_x;
    int clipsp_ = 0; /* reject<->space interleave seen; defers only if
                        a kept real glyph later resolves it */
    /* TAIL-ANCHORED prevTransform + closed-form first-x: pdf.js's
     * prevTransform
     * and the next show's posX are the SAME accumulated translate
     * chain, so the pen returns to prevTransform EXACTLY whenever the
     * tail translates cancel analytically — the equal-position
     * shortcut then fires ACROSS items. The inline consumers model
     * that as prev = (start + closed-form item advance) - tail, where
     * tail_ is the last kept glyph's own charSpacing plus each
     * trailing glyph's translate in the walk's add order. fxc_ walks
     * the leading space run in the same add order. */
    double tail_ = 0.0, fxc_ = start_x;
    int phave_ = 0, fdone_ = 0;
    if (defer)
        *defer = 0;
    if (last_cf)
        *last_cf = 0;
    if (runs) {
        *nruns = 0;
        rfs_ = rst->size * rst->sx;
        rstale_ = rst->item_size > 0.0 ? rst->item_size : rfs_;
        rpe_ = prev0;
        hrpe_ = have_prev0;
        if (zw_item) {
            /* zero-width glyphs stall prevTransform: run the compare
             * per glyph for the whole item (pdf.js always does) and
             * seed the anchor from the caller's prevTransform mirror;
             * the caller passes lgap=0 — the gaps emerge from the
             * cascade instead */
            perglyph_ = 1;
            if (!hrpe_ && have_zfb) {
                rpe_ = zfb;
                hrpe_ = 1;
            }
        }
        /* charSpacing below the CR window (advanceX == tc < -0.2*fs,
         * pdf.worker.js:36617-36625) OR past the standalone-space
         * window (tc > 0.6*fs, spaceInFlowMax,
         * pdf.worker.js:36641-36651) flushes between every glyph
         * pair: split at each adjacency (output-neutral when the
         * cascade would not flush) */
        double ktc_ = rst->tc * rst->sx * rst->tz;
        if (ktc_ < -0.2 * rstale_ || ktc_ < -0.2 * rfs_ ||
            ktc_ > 0.6 * rstale_ || ktc_ > 0.6 * rfs_)
            perglyph_ = 1;
    }
    /* prev_x_out: pdf.js's prevTransform x — the pen right AFTER the
     * last EMITTED non-space glyph's width, BEFORE its charSpacing
     * (pdf.worker.js:36693-36727). Space and clipped glyphs advance
     * position without touching it. */
    *have_prev = 0;
    *have_first = 0;
    /* per-glyph x viewBox clip (pdf.worker.js:36531-36536 runs PER
     * GLYPH): a glyph whose pen x sits outside [vb0, vb2] is skipped —
     * position still advances — so items straddling the page edge keep
     * only their visible part. Space glyphs are exempt (the whitespace
     * branch precedes the box check; pending-space machinery handles
     * them). kx/ktc/ktw map accumulated text-space advances to device. */
    int clip = rst != NULL && rst->have_vb;
    double kx = 0.0, ktc = 0.0, ktw = 0.0, kraw = 0.0;
    double sxzc_ = 0.0, kxc_ = 0.0, ktcc_ = 0.0, ktwc_ = 0.0;
    if (rst != NULL) {
        /* the closed-form prevTransform / first-x use sxz = sx*tz as
         * ONE product, unlike kx/ktc/ktw below which multiply
         * sequentially — each grouping is fixed: the goldens pin the
         * results bit-for-bit */
        sxzc_ = rst->sx * rst->tz;
        kxc_ = rst->size / 1000.0 * sxzc_;
        ktcc_ = rst->tc * sxzc_;
        ktwc_ = rst->tw * sxzc_;
        kx = rst->size / 1000.0 * rst->sx * rst->tz;
        ktc = rst->tc * rst->sx * rst->tz;
        ktw = rst->tw * rst->sx * rst->tz;
        /* pdf.js's left-edge box test adds scaledDim BEFORE the
         * textHScale multiply (and before any text-matrix scale):
         * raw width x fontSize only (pdf.worker.js:36529-36536) */
        kraw = rst->size / 1000.0;
    }
    *last_reject = 0;
    *last_sp = 0;
#define PUTCODE(C)                                                           \
    do {                                                                     \
        unsigned char cc_ = (unsigned char)(C);                              \
        if (ct[cc_] == 2) {                                                  \
            if (last_cf)                                                     \
                *last_cf = 1; /* a kern riding a Cf FINAL glyph is     */   \
                              /* LOST (skip precedes charSpacing)      */   \
            break; /* Cf: invisible format mark — pdf.js continues      */   \
        }          /* before ANY advance (pdf.worker.js:36684)          */   \
        if (last_cf)                                                         \
            *last_cf = 0;                                                    \
        if (ct[cc_] == 3 && !zw_item)                                        \
            return -2; /* zero-width glyph found: the caller restarts   */   \
                       /* this item in zw mode (per-glyph, lgap off)    */   \
        long ta_ = to[cc_], tl_ = to[cc_ + 1] - ta_;                         \
        /* box-rejected glyphs advanced by WIDTH only (no charSpacing   */   \
        /* translate, pdf.worker.js:36705-36711) — they must not        */   \
        /* contribute ktc to later glyph positions within the item      */   \
        double px_ = pen_;                                                   \
        int sp_ = cc_ == 0x20 || (tl_ == 1 && tb[ta_] == ' ');               \
        if (sp_ && *last_reject)                                             \
            clipsp_ = 1; /* space right after a box-reject: the saved  */   \
                         /* ring/pend interleaves with rejected glyphs */   \
        if (!sp_ && !*have_first) {                                          \
            /* pdf.js runs the line compare at the FIRST NON-SPACE     */   \
            /* glyph's position — leading space glyphs only advance    */   \
            /* the pen and arm the pending space                       */   \
            *first_x_out = px_;                                              \
            *have_first = 1;                                                 \
        }                                                                    \
        if (runs) {                                                          \
            /* decode-alignment check covers CLIPPED glyphs too (one    */   \
            /* char per glyph over the full item)                       */   \
            long nch_ = 0;                                                   \
            for (long bj_ = 0; bj_ < tl_; bj_++)                             \
                if ((tb[ta_ + bj_] & 0xC0) != 0x80)                          \
                    nch_++;                                                  \
            if (nch_ != 1)                                                   \
                *runs_ok = 0;                                                \
        }                                                                    \
        /* box test FIRST: pdf.js's sits at the TOP of                 */   \
        /* compareWithLastPosition (pdf.worker.js:36529-36536) — a     */   \
        /* rejected glyph never closes a space run, never anchors a    */   \
        /* segment, never moves prevTransform                          */   \
        if (clip && !sp_ &&                                                  \
            (px_ + w[cc_] * kraw < rst->vb0 || px_ > rst->vb2)) {            \
            *wsum += w[cc_];                                                 \
            (*glyphs)++;                                                     \
            (*clipped)++; /* box-rejected: width only, no charSpacing */     \
            if (*last_sp || runopen_)                                        \
                clipsp_ = 1; /* reject adjacent to spaces / open run */     \
            *last_reject = 1;                                                \
            *last_sp = 0;                                                    \
            pen_ = px_ + w[cc_] * kx;                                        \
            break; /* clipped: position advances, prevTransform doesn't */   \
        }                                                                    \
        if (runs) {                                                          \
            if (sp_) {                                                       \
                if (!runopen_ && hrpe_) {                                    \
                    runopen_ = 1;                                            \
                    runoff_ = o;                                             \
                    runprev_ = rpe_;                                         \
                    runnull_ = 0;                                            \
                } else if (!runopen_ && hsegfx_) {                           \
                    /* INTERNAL run with a NULL anchor: the fate is    */   \
                    /* ring-driven (one " " for a single glyph, a 2+   */   \
                    /* run vanishes) — new-model territory, DEFER at   */   \
                    /* 2+ (a single space matches the literal join)    */   \
                    runopen_ = 1;                                            \
                    runoff_ = o;                                             \
                    runnull_ = 1;                                            \
                    runcnt_ = 0;                                             \
                }                                                            \
                if (runopen_ && runnull_)                                    \
                    runcnt_++;                                               \
            } else {                                                         \
                if (clipsp_ && defer)                                        \
                    *defer = 1; /* kept glyph resolves a reject<->space */  \
                                /* interleave — jsvm owns the exact     */  \
                                /* cascade (seeds 24,100,162/235)       */  \
                if (runopen_ && runnull_) {                                  \
                    if (runcnt_ >= 2 && defer)                               \
                        *defer = 1;                                          \
                    runopen_ = 0;                                            \
                    runnull_ = 0;                                            \
                } else if (runopen_) {                                       \
                    double a_ = px_ - runprev_;                              \
                    if (wlive_ <= 0.0 && defer)                              \
                        *defer = 1; /* zero/neg register run compare */      \
                    if (*nruns == 0 && premin &&                             \
                        wlive_ - reg0 < *premin)                             \
                        *premin = wlive_ - reg0;                             \
                    if (!(0.102 * rstale_ < a_ && a_ <= 0.6 * rstale_ &&     \
                          0.102 * rfs_ < a_ && a_ <= 0.6 * rfs_) &&          \
                        *nruns < RP_MAX_RUNS) {                              \
                        runs[*nruns].off = runoff_;                          \
                        runs[*nruns].seg_first = segfx_;                     \
                        runs[*nruns].has_first = hsegfx_;                    \
                        runs[*nruns].prev_end = runprev_;                    \
                        runs[*nruns].segw = segw_;                           \
                        runs[*nruns].hadw = hadw_;                           \
                        (*nruns)++;                                          \
                        hsegfx_ = 0;                                         \
                        segfx_ = 0.0;                                        \
                        segw_ = 0.0;                                         \
                        hadw_ = 0;                                           \
                        wlive_ = 0.0; /* new item: register re-zeroes */     \
                    } else {                                                 \
                        /* in-flow run: width += advanceX */                 \
                        wlive_ += a_;                                        \
                        segw_ += a_;                                         \
                    }                                                        \
                    runopen_ = 0;                                            \
                } else if ((perglyph_ || *last_reject) && hsegfx_ &&         \
                           hrpe_ && *nruns < RP_MAX_RUNS) {                  \
                    /* CR-window charSpacing adjacency split — OR a     */   \
                    /* kept glyph right after a box-reject: pdf.js's    */   \
                    /* compare sees the skipped width vs the unmoved    */   \
                    /* prevTransform; the cascade takes the band        */   \
                    runs[*nruns].off = o;                                    \
                    runs[*nruns].seg_first = segfx_;                         \
                    runs[*nruns].has_first = hsegfx_;                        \
                    runs[*nruns].prev_end = rpe_;                            \
                    runs[*nruns].segw = segw_;                               \
                    runs[*nruns].hadw = hadw_;                               \
                    (*nruns)++;                                              \
                    hsegfx_ = 0;                                             \
                    segfx_ = 0.0;                                            \
                    segw_ = 0.0;                                             \
                    hadw_ = 0;                                               \
                    wlive_ = 0.0; /* new item: register re-zeroes */         \
                } else if (hrpe_ && hsegfx_ && px_ != rpe_) {                \
                    /* quiet INTRA-segment adjacency gap: width +=     */   \
                    /* advanceX (pdf.worker.js:36641); a register <= 0 */   \
                    /* here would split in the new model — defer       */   \
                    if (wlive_ <= 0.0 && defer)                              \
                        *defer = 1;                                          \
                    if (*nruns == 0 && premin &&                             \
                        wlive_ - reg0 < *premin)                             \
                        *premin = wlive_ - reg0;                             \
                    wlive_ += px_ - rpe_;                                    \
                    segw_ += px_ - rpe_;                                     \
                }                                                            \
                if (!hsegfx_) {                                              \
                    segfx_ = px_;                                            \
                    hsegfx_ = 1;                                             \
                }                                                            \
                if (w[cc_] != 0.0) { /* zero width: prevTransform stays */  \
                    rpe_ = px_ + w[cc_] * kx;                                \
                    hrpe_ = 1;                                               \
                    hadw_ = 1;                                               \
                }                                                            \
                wlive_ += w[cc_] * kx;                                       \
                segw_ += w[cc_] * kx;                                        \
            }                                                                \
        }                                                                    \
        *last_reject = 0;                                                    \
        *last_sp = sp_;                                                      \
        *wsum += w[cc_];                                                     \
        if (sp_) /* Tw rides every whitespace-category glyph */              \
            (*spaces)++;                                                     \
        (*glyphs)++;                                                         \
        /* real trailing space GLYPHS (letter-gap join bytes don't     */   \
        /* count): pdf.js's twoLastChars ring only ever saw glyphs;    */   \
        /* clipped glyphs broke out above (saveLastChar skipped)       */   \
        if (sp_)                                                             \
            (*tail_sp)++;                                                    \
        else                                                                 \
            *tail_sp = 0;                                                    \
        if (!sp_ && w[cc_] != 0.0) {                                         \
            /* pdf.js stores prevTransform only when scaledDim != 0 */       \
            *prev_x_out = px_ + w[cc_] * kx;                                 \
            *have_prev = 1;                                                  \
        }                                                                    \
        if (!sp_) {                                                          \
            /* new tail: this glyph's own charSpacing translate        */   \
            tail_ = ktcc_;                                                   \
            phave_ = 1;                                                      \
            fdone_ = 1;                                                      \
        } else {                                                             \
            if (!fdone_ && rst != NULL)                                      \
                fxc_ += (w[cc_] / 1000.0 * rst->size + rst->tc +             \
                         rst->tw) * sxzc_;                                   \
            /* trailing space: one summed translate in the walk order */    \
            tail_ += ktcc_ + (w[cc_] * kxc_ + ktwc_);                        \
        }                                                                    \
        if (lgap) {                                                          \
            /* charSpacing > trackingSpaceMin: a fake space between     */   \
            /* every char pair (pdf.worker.js:36633-36651); runs        */   \
            /* collapse in rp_show. Joins landing BEFORE a space glyph  */   \
            /* are WITHHELD (pendj_): they materialize only when a      */   \
            /* later real glyph arrives, so a trailing real-space run   */   \
            /* stays exactly as wide as the ring pdf.js saved           */   \
            for (long bi_ = 0; bi_ < tl_; bi_++) {                           \
                unsigned char bb_ = tb[ta_ + bi_];                           \
                if ((bb_ & 0xC0) != 0x80 && seenreal_) {                     \
                    if (sp_) {                                               \
                        pendj_++;                                            \
                    } else {                                                 \
                        if (o + pendj_ + 1 > ocap)                           \
                            return -1;                                       \
                        for (; pendj_ > 0; pendj_--)                         \
                            out[o++] = ' ';                                  \
                        out[o++] = ' ';                                      \
                    }                                                        \
                }                                                            \
                if (o + 1 > ocap)                                            \
                    return -1;                                               \
                out[o++] = bb_;                                              \
            }                                                                \
            if (!sp_)                                                        \
                seenreal_ = 1;                                               \
        } else {                                                             \
            if (o + tl_ > ocap)                                              \
                return -1;                                                   \
            memcpy(out + o, tb + ta_, tl_);                                  \
            o += tl_;                                                        \
            if (!sp_)                                                        \
                seenreal_ = 1;                                               \
        }                                                                    \
        if (sp_)                                                             \
            pen_ = px_ + (ktc + (w[cc_] * kx + ktw));                        \
        else                                                                 \
            pen_ = (px_ + w[cc_] * kx) + ktc;                                \
    } while (0)

    if (flag == 0) { /* escape-free literal: raw slice between delims */
        for (long i = a + 1; i < b - 1; i++)
            PUTCODE(d[i]);
    } else if (flag == 3) { /* coalesced TJ group: raw blob span [a, b) */
        for (long i = a; i < b; i++)
            PUTCODE(d[i]);
    } else if (flag == 1) { /* hex string: digits between < and > */
        int hi = -1;
        for (long i = a + 1; i < b - 1; i++) {
            unsigned char c = d[i];
            int v;
            if (c >= '0' && c <= '9')
                v = c - '0';
            else if (c >= 'A' && c <= 'F')
                v = c - 'A' + 10;
            else if (c >= 'a' && c <= 'f')
                v = c - 'a' + 10;
            else
                continue; /* mirrors re.sub(rb"[^0-9A-Fa-f]", b"") */
            if (hi < 0) {
                hi = v;
            } else {
                PUTCODE((hi << 4) | v);
                hi = -1;
            }
        }
        /* dangling first digit DROPPED: getHexString emits complete
         * pairs only (pdf.worker.js:14205-14214; probed: <414> is "A") */
    } else { /* complex literal: full unescape (pdfb._parse_literal_string) */
        long pos = a + 1, depth = 1;
        while (pos < n) {
            unsigned char c = d[pos];
            if (c == '\\') {
                pos++;
                if (pos >= n)
                    break;
                unsigned char e = d[pos];
                if (e == 'n') {
                    PUTCODE('\n');
                    pos++;
                } else if (e == 'r') {
                    PUTCODE('\r');
                    pos++;
                } else if (e == 't') {
                    PUTCODE('\t');
                    pos++;
                } else if (e == 'b') {
                    PUTCODE('\b');
                    pos++;
                } else if (e == 'f') {
                    PUTCODE('\f');
                    pos++;
                } else if (e == '(' || e == ')' || e == '\\') {
                    PUTCODE(e);
                    pos++;
                } else if (e >= '0' && e <= '7') { /* octal, 1-3 digits */
                    int v = e - '0', k = 1;
                    pos++;
                    while (pos < n && k < 3 && d[pos] >= '0' &&
                           d[pos] <= '7') {
                        v = v * 8 + (d[pos] - '0');
                        k++;
                        pos++;
                    }
                    PUTCODE(v & 0xFF);
                } else if (e == '\r' || e == '\n') { /* line continuation */
                    pos++;
                    if (e == '\r' && pos < n && d[pos] == '\n')
                        pos++;
                } else { /* unknown escape: char stands for itself */
                    PUTCODE(e);
                    pos++;
                }
            } else if (c == '(') {
                depth++;
                PUTCODE(c);
                pos++;
            } else if (c == ')') {
                depth--;
                if (depth == 0)
                    break;
                PUTCODE(c);
                pos++;
            } else {
                PUTCODE(c);
                pos++;
            }
        }
    }
#undef PUTCODE
    if (rst != NULL && !zw_item && *clipped == 0 &&
        (runs == NULL || *nruns == 0)) {
        /* CLEAN INLINE ITEM: prevTransform anchors to the item's
         * closed-form advance — prev = (start + adv) - tail — so the
         * next compare's
         * adv = tx - prev round-trips the analytic tail EXACTLY
         * (pdf.js's posX/lastPosX share one accumulated chain and its
         * equal-position shortcut fires across items: combo hunt base
         * 22,000,000 seed 17, '-3 Tc (  zet ) Tj (kap) Tj' must read
         * 'zet kap'). advc_ mirrors the K_TEXT consumer's adv
         * expression bit-for-bit (clipped == 0 here). first-x takes
         * fxc_'s add order. Split/clipped/zw paths keep the
         * accumulative walk values. */
        if (*have_prev && phave_) {
            double advc_ = (*wsum / 1000.0 * rst->size +
                            (double)*glyphs * rst->tc +
                            (double)*spaces * rst->tw) *
                           rst->sx * rst->tz;
            *prev_x_out = (start_x + advc_) - tail_;
        }
        if (*have_first && fdone_)
            *first_x_out = fxc_;
    }
    if (runs) {
        *lastseg_fx = segfx_;
        *lastseg_has = hsegfx_;
        if (lastseg_w)
            *lastseg_w = segw_;
        if (lastseg_hadw)
            *lastseg_hadw = hadw_;
        if (runopen_ && runnull_ && runcnt_ >= 2 && defer)
            *defer = 0 + *defer; /* trailing null run: pend machinery
                                    owns it (show's trail arm) — no
                                    defer needed */
    }
    *olen = o;
    return 0;
}

/* the width register a deferred TJ-group boundary compare leaves
 * behind: 0 when the compare will FLUSH (the next ensure resets the
 * register), wreg + gap when it absorbs, wreg untouched when it never
 * runs (null prevTransform / equal position): jsvm's
 * compare_with_last_position (pdf.worker.js:36526-36660) on the
 * register — used for the live mid-TJ register model only, never for
 * emission. */
static double rp_boundary_stale(const RState *st, double tx, double dev_y,
                                double fs, double hs)
{
    if (st->force_flush || !st->line_open)
        return 0.0;
    if (st->scale_flush)
        return 0.0;
    if (!st->have_last_end_x || !st->have_glyph_y)
        return st->wreg;
    double adv = tx - st->last_end_x;
    double dyg = dev_y - st->glyph_y;
    if (adv == 0.0 && dyg == 0.0)
        return st->wreg;
    double ifs = st->item_size > 0.0 ? st->item_size : fs;
    double ihs = st->item_hsize > 0.0 ? st->item_hsize
                                      : (hs > 0.0 ? hs : fs);
    if (ifs <= 0.0)
        return fabs(dyg) > RP_Y_TOL ? 0.0 : st->wreg;
    if (ihs > 0.0 && fabs(dyg) > 0.25 * ihs)
        return 0.0; /* vertical-shift flush */
    if (st->wreg <= 0.0)
        return 0.0; /* degenerate windows: any nonzero gap flushes */
    if (adv < -0.2 * ifs || adv > 0.6 * ifs)
        return 0.0; /* CR / outside-window flush */
    int pend1 = st->pending_space && !st->pending_multi;
    if (pend1 && 0.03 * ifs < adv && adv <= RP_GAP_FRACTION * ifs)
        return 0.0; /* shouldAddWhitepsace standalone flush */
    return st->wreg + adv; /* absorbed: width += advanceX */
}

/* the item assembly over the staged region [mark, *olen): the
 * faithful two-stage pdf.js model — compareWithLastPosition
 * (pdf.worker.js:36526-36660) then pdf-parse's render_page join
 * (lib/pdf-parse.js:16-46), as jsvm runs them. Flush/EOL/space decisions compare against the previous
 * GLYPH (glyph_y / last_end_x = prevTransform) with ITEM-STALE
 * thresholds (item_size); "\n" emission is the pdf-parse anchor join
 * (last_y = the open item's anchor y). */
static int rp_show(RState *st, unsigned char *out, long *olen, long ocap,
                   long mark, double ty, double tx, double size,
                   double hsize, int move_prev, double seg_w)
{
    long o = *olen, m = o - mark;
    if (m == 0)
        return 0;
    /* whitespace-run lengths BEFORE collapsing: pdf.js's
     * shouldAddWhitepsace consults the last TWO saved glyphs — a run
     * of two-plus spaces makes it FALSE (pending_multi) */
    long lead_raw = 0, trail_raw = 0, sp_total = 0;
    for (long r = mark; r < o && out[r] == ' '; r++)
        lead_raw++;
    if (lead_raw < m)
        for (long r = o - 1; r >= mark && out[r] == ' '; r--)
            trail_raw++;
    for (long r = mark; r < o; r++)
        if (out[r] == ' ')
            sp_total++;
#define RP_ARM(NRUN)                                                         \
    do {                                                                     \
        if (st->pending_space) {                                             \
            st->pending_multi = 1;                                           \
        } else {                                                             \
            st->pending_space = 1;                                           \
            st->pending_multi = (NRUN) >= 2;                                 \
        }                                                                    \
    } while (0)
    /* collapse 0x20 runs in place */
    {
        long w = mark;
        for (long r = mark; r < o; r++) {
            if (out[r] == ' ' && w > mark && out[w - 1] == ' ')
                continue;
            out[w++] = out[r];
        }
        o = w;
        m = o - mark;
    }
    int tracked = st->line_open || st->have_glyph_y;
    if (st->have_vb && (ty < st->vb1 || ty > st->vb3)) {
        /* outside the view box: glyphs drop before any state change
         * (pdf.worker.js:36531-36536); whitespace glyphs still arm the
         * pending space. Return 2 = clipped (caller keeps prevTransform). */
        if (tracked && sp_total > 0)
            RP_ARM(sp_total); /* clipped non-space glyphs skip
                                 saveLastChar: the saved run is ALL of
                                 the item's space glyphs */
        *olen = mark;
        return 2;
    }
    if (lead_raw && tracked)
        RP_ARM(lead_raw);
    /* leading space glyphs never land (whitespace glyphs are skipped,
     * pdf.worker.js:36693-36702 — they only arm the pending space) */
    {
        long skip = 0;
        while (skip < m && out[mark + skip] == ' ')
            skip++;
        if (skip) {
            memmove(out + mark, out + mark + skip, m - skip);
            o -= skip;
            m -= skip;
        }
    }
    while (m > 0 && out[o - 1] == ' ') {
        o--;
        m--;
    }
    if (m == 0) {
        /* all-space item: the lead arm above covered the whole run */
        *olen = o; /* position advances (caller); glyph_y does not */
        return 0;
    }
    double fs = size > 0.0 ? size : 0.0;
    double ifs = st->item_size > 0.0 ? st->item_size : fs;
    /* cross-axis item height (pdf.js textContentItem.height =
     * fontSize * hypot(trm[2], trm[3])): all |dy| thresholds use it */
    double hs = hsize > 0.0 ? hsize : fs;
    double ihs = st->item_hsize > 0.0 ? st->item_hsize : hs;
    int have_dyg = st->have_glyph_y;
    double dyg = have_dyg ? ty - st->glyph_y : 0.0;
    int have_adv = st->have_last_end_x;
    double adv = have_adv ? tx - st->last_end_x : 0.0;
    int space = 0, standalone = 0;
    int flush = st->force_flush;
    st->force_flush = 0;
    if (have_adv && have_dyg && adv == 0.0 && dyg == 0.0) {
        /* pdf.js equal-position shortcut (pdf.worker.js:36547-36549):
         * append with NO cascade decisions; scale_flush stays armed.
         * The RING-driven pend1 space still materializes at the append
         * (saveLastChar, pdf.worker.js:36373-36378). */
        space = st->pending_space && !st->pending_multi;
        st->pending_space = 0;
        st->pending_multi = 0;
    } else if (st->scale_flush) {
        /* Tm scale change zeroed the item width: textOrientation ==
         * sign(0) == 0 — CR-flush (adv<0), standalone-space + flush
         * (adv>0), EOL (|dy| > height); adv EXACTLY 0 falls through
         * the zeroed thresholds with width += 0 and the item
         * CONTINUES (jsvm's compare_with_last_position) */
        st->scale_flush = 0;
        st->pending_space = 0;
        st->pending_multi = 0;
        if (have_adv && ifs > 0.0 && !(have_dyg && fabs(dyg) > ihs)) {
            if (adv < 0.0) {
                flush = 1;
            } else if (adv > 0.0) {
                space = 1;
                standalone = 1;
                flush = 1;
            }
            /* adv == 0: no flush here */
        } else {
            flush = 1;
        }
    } else if (!have_dyg) {
        /* null prevTransform: pdf.js returns true BEFORE any cascade
         * (pdf.worker.js:36543-36545) — the glyph appends to the OPEN
         * item even across Td/y jumps; with no open item this
         * initializes the first one. The ring-driven pend1 space
         * still applies — but only when the ring holds a prior saved
         * glyph (shouldAddWhitepsace reads twoLastChars; a FRESH
         * closure's ring — a form's first item — is empty, so a
         * leading space pend does not materialize; jsvm's
         * should_add_whitespace, form_combo hunt base 27,000,000). */
        space = st->pending_space && !st->pending_multi &&
                st->last_char != 0;
        st->pending_space = 0;
        st->pending_multi = 0;
    } else if (ifs > 0.0 && have_adv) {
        double ady = fabs(dyg);
        if (st->wreg <= 0.0 && adv != 0.0)
            return -3; /* zero/negative width register: the degenerate
                          orientation bands live in jsvm — DEFER the
                          page */
        if (adv < -0.2 * ifs) {
            /* carriage return (NEGATIVE_SPACE_FACTOR) */
            st->pending_space = 0;
            st->pending_multi = 0;
            flush = 1;
        } else if (ady > ihs) {
            /* taller than the item height -> appendEOL */
            st->pending_space = 0;
            st->pending_multi = 0;
            flush = 1;
        } else {
            if (adv <= 0.03 * ifs) {
                /* notASpace: resetLastChars — adv measures to the
                 * FIRST NON-SPACE glyph, leading-space advances
                 * included */
                st->pending_space = 0;
                st->pending_multi = 0;
            }
            int pend1 = st->pending_space && !st->pending_multi;
            space = pend1 || adv > RP_GAP_FRACTION * ifs;
            if (pend1 && adv <= RP_GAP_FRACTION * ifs) {
                /* shouldAddWhitepsace: flush + standalone " " */
                standalone = 1;
                flush = 1;
            } else if (space) {
                standalone = adv > 0.6 * ifs || flush || !st->line_open;
                if (!standalone)
                    st->wreg += adv; /* in-flow: width += advanceX */
            } else {
                st->wreg += adv; /* quiet absorb: width += advanceX */
            }
            st->pending_space = 0;
            st->pending_multi = 0;
            if (adv > 0.6 * ifs || ady > 0.25 * ihs)
                flush = 1; /* VERTICAL_SHIFT_RATIO / big-gap flush */
        }
    } else {
        /* degraded info: legacy single-tracker rules */
        if (fabs(dyg) > RP_Y_TOL) {
            st->pending_space = 0;
            st->pending_multi = 0;
            flush = 1;
        } else {
            space = st->pending_space && st->line_open;
            st->pending_space = 0;
            st->pending_multi = 0;
        }
    }
    if (have_dyg && ihs > 0.0 && fabs(dyg) > 0.25 * ihs)
        flush = 1; /* vertical shift flush applies on every path */
    int new_item = flush || !st->line_open;
    /* emission = pdf-parse's item join: prefix of up to "\n \n" */
    unsigned char pre[3];
    int np = 0;
    if (space && st->last_char != ' ') {
        if (standalone && st->have_glyph_y) {
            /* standalone whitespace item carries prevTransform */
            if (st->have_last_y &&
                fabs(st->glyph_y - st->last_y) > RP_Y_TOL)
                pre[np++] = '\n';
            st->last_y = st->glyph_y;
            st->have_last_y = 1;
        }
        pre[np++] = ' ';
    }
    if (new_item) {
        if (st->have_last_y && fabs(ty - st->last_y) > RP_Y_TOL)
            pre[np++] = '\n';
        st->last_y = ty;
        st->have_last_y = 1;
        st->item_size = fs;
        st->item_hsize = hs;
        st->wreg = seg_w; /* ensureTextContentItem resets the register */
    } else {
        st->wreg += seg_w;
    }
    if (np) {
        if (o + np > ocap)
            return -1;
        memmove(out + mark + np, out + mark, m);
        memcpy(out + mark, pre, np);
        o += np;
    }
    st->line_open = 1;
    st->last_char = out[o - 1];
    st->pending_space = trail_raw > 0;
    st->pending_multi = trail_raw >= 2;
    if (move_prev) {
        /* prevTransform moves only for items that contained a
         * nonzero-width non-space glyph (pdf.js stores it only when
         * scaledDim != 0) — mirrors the caller's last_end_x gate */
        st->glyph_y = ty;
        st->have_glyph_y = 1;
    }
    *olen = o;
    return 0;
#undef RP_ARM
}

long pdftext_replay(const unsigned char *d, long n, const Ev *ev, long nev,
                    long start, const int32_t *font_idx,
                    const unsigned char *tbytes, const int32_t *toff,
                    const double *widths, double *state, unsigned char *out,
                    long ocap, long *out_len,
                    const unsigned char *scratch, double *qstate,
                    const unsigned char *cats)
{
    /* qstate: [0] = depth, then 12 doubles per level (cur_x, y, sx, sy,
     * tc, tw, tz, rise, size, cur_font, line_ox, line_oy) — the replay
     * half of the q/Q TextState snapshot, round-tripped across segments
     * like `state`. Worked on a local copy so a -1 (grow out) retry
     * sees the entry state. */
    double qst[1 + 64 * 12];
    long qn_in = (long)qstate[0];
    if (qn_in < 0 || qn_in > 64)
        qn_in = 0;
    memcpy(qst, qstate, sizeof(double) * (1 + 12 * (size_t)qn_in));
    qst[0] = (double)qn_in;
    RState st;
    st.y = state[0];
    st.cur_x = state[1];
    st.size = state[2];
    st.sx = state[3];
    st.tc = state[4];
    st.tw = state[5];
    st.tz = state[6];
    st.rise = state[7];
    st.last_y = state[8];
    st.have_last_y = state[9] != 0.0;
    st.last_end_x = state[10];
    st.have_last_end_x = state[11] != 0.0;
    st.line_open = state[12] != 0.0;
    st.last_char = (unsigned char)state[13];
    st.cur_font = (long)state[14];
    st.pending_space = state[15] != 0.0;
    st.pending_multi = state[26] != 0.0;
    st.glyph_y = state[16];
    st.have_glyph_y = state[17] != 0.0;
    st.force_flush = state[18] != 0.0;
    st.scale_flush = state[19] != 0.0;
    st.item_size = state[20];
    st.vb0 = state[21];
    st.vb1 = state[22];
    st.vb2 = state[23];
    st.vb3 = state[24];
    st.have_vb = state[25] != 0.0;
    st.sy = state[29];
    st.item_hsize = state[30];
    st.wreg = state[31];
    st.line_ox = state[27];
    st.line_oy = state[28];

    long olen = 0, tjmark = -1, tj_tail_sp = 0;
    double tj_start_x = 0.0, tj_prev_x = 0.0, tj_first_x = 0.0;
    int tj_have_prev = 0, tj_have_first = 0;
    /* the preceding element's FINAL glyph was box-rejected: the next
     * kern row's riding component (f1) is dropped with it (pdf.js's
     * reject path translates scaledDim only, pdf.worker.js:36704-36711) */
    int tj_last_clip = 0;
    /* kern-killed trailing run: pdf.js's twoLastChars ring is left at
     * [' ',' '] (notASpace resets TO spaces; the tracking merge never
     * resets), so no later single space can arm a pend1 standalone
     * until a real glyph rolls the ring — re-arm the pend memory as a
     * MULTI run right after the buffer itself is shown. */
    int tj_kill = 0;
    /* deferred kern fake space: pdf.js only decides at the NEXT real
     * glyph — if the next group leads with space glyphs their
     * advances (tw can be negative) change the gap, so the space
     * materializes only when the next group starts with a real glyph;
     * otherwise the leading-run machinery owns the decision. */
    int tj_fake = 0;
    /* live WIDTH-REGISTER model for the buffered group (pdf.js
     * textContentItem.width, jsvm's _Item.width): tj_wacc = contribution since the last flush,
     * tj_stale = what the deferred group-boundary compare leaves of
     * st.wreg (rp_boundary_stale), tj_gabs = cumulative kern gap
     * already absorbed (gap2 is measured from a fixed anchor, so
     * successive kern rows see cumulative values). */
    double tj_wacc = 0.0, tj_stale = 0.0, tj_gabs = 0.0;
    /* tj_tailw: the CURRENT boundary's provisional absorb inside
     * tj_wacc — pdf.js only runs width += advanceX at the NEXT real
     * glyph's compare, so a show that hands the buffer off (TJ end /
     * mid-TJ kern flush) excludes it; the next show's own boundary
     * compare re-derives the gap from positions. Reset when a real
     * glyph consumes the boundary (pdf.js compares at that glyph). */
    double tj_tailw = 0.0;
    int tj_bpend = 1;
    long ret = nev;

    for (long i = start; i < nev; i++) {
        const Ev *e = &ev[i];
        switch (e->kind) {
        case K_STR:
        case K_TJSTR: {
            long glyphs = 0, spaces = 0, mark = olen;
            double wsum = 0.0;
            const int32_t *to = toff + st.cur_font * 257;
            const double *w = widths + st.cur_font * 256;
            const unsigned char *fct = cats + st.cur_font * 256;
            int lgap = st.size > 0.0 &&
                       st.tc * st.tz > RP_GAP_FRACTION * st.size;
            int zw_mode = 0;
            double prev_x = 0.0, first_x = 0.0;
            int have_prev = 0, have_first = 0;
            SegRec runs[RP_MAX_RUNS];
            long clipped = 0;
            int nruns = 0, runs_ok = 1;
            double lastseg_fx = 0.0;
            int lastseg_has = 0;
            double p0 = 0.0;
            int hp0 = 0;
            if (e->kind == K_TJSTR && tj_have_prev) {
                p0 = tj_prev_x;
                hp0 = 1;
            }
            int last_reject = 0, last_sp = 0;
            long tj_tsp_pre = tj_tail_sp; /* buffer tail BEFORE this
                                             element (the join rule) */
            double lastseg_w = 0.0, premin = 1e300;
            int lastseg_hadw = 0, defer_ = 0, last_cf = 0;
            double reg0 = e->kind == K_TJSTR
                              ? (tj_bpend ? st.wreg : tj_stale) + tj_wacc
                              : st.wreg;
            for (;;) {
                long olen0 = olen, tsp0 = tj_tail_sp;
                glyphs = 0; spaces = 0; wsum = 0.0; clipped = 0;
                prev_x = first_x = 0.0;
                have_prev = have_first = 0;
                nruns = 0; runs_ok = 1;
                lastseg_fx = 0.0; lastseg_has = 0;
                last_reject = 0; last_sp = 0;
                lastseg_w = 0.0; premin = 1e300;
                lastseg_hadw = 0; defer_ = 0; last_cf = 0;
                int rc_ = rp_decode(e->flag == 3 ? scratch : d, n, e->flag,
                          e->a, e->b, tbytes, to, w, fct, out,
                          &olen, ocap, &glyphs, &spaces, &wsum, zw_mode ? 0 : lgap,
                          &st, st.cur_x, &prev_x, &have_prev,
                          &first_x, &have_first, &clipped,
                          runs, &nruns, &runs_ok, p0, hp0,
                          st.last_end_x, st.have_last_end_x ? 1 : 0,
                          zw_mode,
                          &lastseg_fx, &lastseg_has, &tj_tail_sp,
                          &last_reject, &last_sp,
                          reg0, &lastseg_w, &lastseg_hadw,
                          &defer_, &last_cf, &premin);
                if (rc_ == -2) {
                    /* zero-width non-space glyph: the width register
                     * stays 0 through it and the whole zero/negative
                     * orientation model applies — DEFER the page to
                     * jsvm */
                    (void)olen0;
                    (void)tsp0;
                    (void)zw_mode;
                    return -3;
                }
                if (rc_ < 0)
                    return -1;
                break;
            }
            if (defer_)
                return -3; /* register-sensitive walk construct */
            if (e->kind == K_TJSTR && !tj_have_prev &&
                !st.have_last_end_x && have_first) {
                /* NULL-anchor ring across the buffer join: a
                 * whitespace run spanning the buffer tail and this
                 * element's lead reaches the next real glyph with
                 * pdf.js's ring at [' ',' '] when 2+ glyphs were
                 * saved — new-model territory, DEFER */
                long lead_ = 0;
                for (long q = mark; q < olen && out[q] == ' '; q++)
                    lead_++;
                if (tj_tsp_pre + lead_ >= 2)
                    return -3;
            }
            if (last_cf && e->kind == K_TJSTR && i + 1 < nev &&
                ev[i + 1].kind == K_TJNUM)
                return -3; /* a kern riding a Cf FINAL glyph is LOST
                              (pdf.worker.js:36684-36687) */
            if (e->kind == K_TJSTR) {
                if (tj_bpend && have_first) {
                    /* first real glyph of this buffered group: decide
                     * what the deferred boundary compare leaves of
                     * the stale register */
                    tj_stale = rp_boundary_stale(
                        &st, first_x, st.y + st.rise,
                        st.size * st.sx, RP_HS(&st));
                    tj_bpend = 0;
                }
                double true0 =
                    (tj_bpend ? st.wreg : tj_stale) + tj_wacc;
                if (premin < 1e299 && true0 + premin <= 0.0)
                    return -3; /* pre-split walk decision would read a
                                  non-positive register */
            } else if (have_first) {
                double true0 = rp_boundary_stale(
                    &st, first_x, st.y + st.rise,
                    st.size * st.sx, RP_HS(&st));
                if (premin < 1e299 && true0 + premin <= 0.0)
                    return -3;
            }
            if (e->kind == K_TJSTR && tj_fake && olen > mark) {
                /* deferred kern fake space lands only before a REAL
                 * first glyph; a leading space glyph owns the
                 * decision instead (space glyphs always decode to a
                 * single ' ') */
                if (out[mark] != ' ') {
                    if (olen + 1 > ocap)
                        return -1;
                    memmove(out + mark + 1, out + mark, olen - mark);
                    out[mark] = ' ';
                    olen++;
                    for (int q2 = 0; q2 < nruns; q2++)
                        runs[q2].off++;
                }
                tj_fake = 0;
            }
            /* view-box-rejected glyphs advance by WIDTH only — pdf.js's
             * reject path skips the charSpacing translate
             * (pdf.worker.js:36705-36711). y-clip (whole item outside):
             * only space glyphs keep tc+tw. */
            int clip_y = st.have_vb &&
                         (st.y + st.rise < st.vb1 ||
                          st.y + st.rise > st.vb3);
            double adv;
            if (clip_y)
                adv = (wsum / 1000.0 * st.size +
                       (double)spaces * (st.tc + st.tw)) *
                      st.sx * st.tz;
            else
                adv = (wsum / 1000.0 * st.size +
                       (double)(glyphs - clipped) * st.tc +
                       (double)spaces * st.tw) *
                      st.sx * st.tz;
            /* a box-rejected FINAL glyph takes the next kern row's
             * riding extraSpacing (f1) down with it; space glyphs
             * never reject (their branch runs before the box test) */
            if (e->kind == K_TJSTR)
                tj_last_clip = (glyphs > 0 && !last_sp &&
                                (last_reject || clip_y)) ? 1 : 0;
            /* discard quad-0 splits where the inline path is exact:
             * size 0 or multi-char decodes
             * (box-rejected glyphs are handled INSIDE the per-glyph
             * walk now, mirroring pdf.js's test at the top of
             * compareWithLastPosition) */
            if (!runs_ok || st.size <= 0.0)
                nruns = 0;
            if (st.scale_flush && (clipped > 0 || nruns > 0))
                return -3; /* an armed scale-flush boundary meeting
                              clip rejection / per-glyph splits: the
                              zero-orientation standalone-space
                              decision anchors at the PRE-walk
                              prevTransform, which the split emission
                              below re-anchors — the exact cascade
                              lives in jsvm (hunt seed
                              20,100,542: 'io kap \\nap') */
            if (e->kind == K_TJSTR && nruns > 0) {
                /* mid-TJ per-glyph splits: segment 0 completes the
                 * buffered group, the LAST segment becomes the new
                 * buffer (pdf.js compares per glyph, so a split lands
                 * mid-element exactly where jsvm's would). The
                 * staged tail parks at the top of `out` while each
                 * earlier segment runs through rp_show. */
                long base = tjmark < 0 ? mark : tjmark;
                if (tj_kill) {
                    /* real glyphs of THIS item precede the first
                     * split: the ring rolled — the killed-run memory
                     * dies unconsumed */
                    for (long q = mark; q < runs[0].off; q++)
                        if (out[q] != ' ') {
                            tj_kill = 0;
                            break;
                        }
                }
                for (int k = 0; k < nruns; k++) {
                    long bnd = runs[k].off;
                    long tl = olen - bnd;
                    if (tl > 0) {
                        if (olen + tl + 4 > ocap)
                            return -1;
                        memmove(out + ocap - tl, out + bnd, tl);
                    }
                    olen = bnd;
                    double tx;
                    if (k == 0)
                        tx = tj_have_first
                                 ? tj_first_x
                                 : (runs[0].has_first ? runs[0].seg_first
                                                      : tj_start_x);
                    else
                        tx = runs[k].seg_first;
                    int rc = rp_show(&st, out, &olen, ocap - tl, base,
                                     st.y + st.rise, tx,
                                     st.size * st.sx, RP_HS(&st), 1,
                                     k == 0 ? tj_wacc + runs[0].segw
                                            : runs[k].segw);
                    if (rc == -3)
                        return -3;
                    if (rc < 0)
                        return -1;
                    if (rc != 2) {
                        st.last_end_x = runs[k].prev_end;
                        st.have_last_end_x = 1;
                    }
                    if (tj_kill) {
                        st.pending_space = 1;
                        st.pending_multi = 1;
                        tj_kill = 0;
                    }
                    if (tl > 0) {
                        memmove(out + olen, out + ocap - tl, tl);
                        long delta = olen - bnd;
                        for (int j = k + 1; j < nruns; j++)
                            runs[j].off += delta;
                        base = olen;
                        olen += tl;
                    } else {
                        base = olen;
                    }
                }
                tjmark = base;
                tj_first_x = lastseg_fx;
                tj_have_first = lastseg_has;
                tj_start_x = lastseg_has ? lastseg_fx : st.cur_x;
                if (have_prev) {
                    tj_prev_x = prev_x;
                    tj_have_prev = 1;
                }
                /* the NEW buffer (the last segment) has its own
                 * pending boundary vs the freshly-shown item */
                tj_wacc = lastseg_w;
                tj_gabs = 0.0;
                tj_tailw = 0.0;
                if (lastseg_has) {
                    tj_stale = rp_boundary_stale(
                        &st, lastseg_fx, st.y + st.rise,
                        st.size * st.sx, RP_HS(&st));
                    tj_bpend = 0;
                } else {
                    tj_bpend = 1;
                }
                st.cur_x += adv;
            } else if (e->kind == K_TJSTR) {
                st.cur_x += adv; /* stays staged until K_TJEND */
                tj_wacc += lastseg_w;
                if (have_first) {
                    tj_gabs = 0.0; /* real glyph re-anchors the gap */
                    tj_tailw = 0.0;
                }
                if (have_prev) {
                    tj_prev_x = prev_x;
                    tj_have_prev = 1;
                    /* a real glyph rolled the ring: the killed-run
                     * memory dies unconsumed */
                    tj_kill = 0;
                }
                if (have_first && !tj_have_first) {
                    tj_first_x = first_x;
                    tj_have_first = 1;
                }
            } else if (nruns > 0) {
                /* quad-0 split emission: nruns+1 segments, each run
                 * riding as the next segment's leading pend (the per-glyph
                 * compare jsvm runs) */
                long base = mark;
                for (int k = 0; k <= nruns; k++) {
                    long bnd = k < nruns ? runs[k].off : olen;
                    long tl = olen - bnd;
                    if (tl > 0) {
                        if (olen + tl + 4 > ocap)
                            return -1;
                        memmove(out + ocap - tl, out + bnd, tl);
                    }
                    olen = bnd;
                    double tx;
                    if (k < nruns)
                        tx = runs[k].has_first ? runs[k].seg_first
                                               : st.cur_x;
                    else
                        tx = lastseg_has ? lastseg_fx : st.cur_x;
                    int rc = rp_show(&st, out, &olen, ocap - tl, base,
                                     st.y + st.rise, tx,
                                     st.size * st.sx, RP_HS(&st),
                                     k < nruns ? 1 : have_prev,
                                     k < nruns ? runs[k].segw
                                               : lastseg_w);
                    if (rc == -3)
                        return -3;
                    if (rc < 0)
                        return -1;
                    if (rc != 2) {
                        if (k < nruns) {
                            st.last_end_x = runs[k].prev_end;
                            st.have_last_end_x = 1;
                        } else if (have_prev) {
                            st.last_end_x = prev_x;
                            st.have_last_end_x = 1;
                        }
                    }
                    if (tl > 0) {
                        memmove(out + olen, out + ocap - tl, tl);
                        long delta = olen - bnd;
                        for (int j = k + 1; j < nruns; j++)
                            runs[j].off += delta;
                        base = olen;
                        olen += tl;
                    } else {
                        base = olen;
                    }
                }
                st.cur_x += adv;
            } else {
                int rc = rp_show(&st, out, &olen, ocap, mark,
                                 st.y + st.rise,
                                 have_first ? first_x : st.cur_x,
                                 st.size * st.sx, RP_HS(&st), have_prev,
                                 lastseg_w);
                if (rc == -3)
                    return -3;
                if (rc < 0)
                    return -1;
                st.cur_x += adv;
                /* prevTransform = after the last emitted NON-SPACE
                 * glyph's width, before its charSpacing
                 * (pdf.worker.js:36693-36727): space-only and
                 * y-clipped items leave it untouched */
                if (rc != 2 && have_prev) {
                    st.last_end_x = prev_x;
                    st.have_last_end_x = 1;
                }
            }
            break;
        }
        case K_TJNUM: {
            /* the kern rides charSpacing through translateTextMatrix
             * (x textHScale) — pdf.worker.js:36687,36735. flag =
             * count of merged kerns that ran with an EMPTY buffer
             * (the lexer's TJ coalescing): each applied charSpacing in its
             * translate (the !chars branch, pdf.worker.js:36663-36675).
             * f1 = the component riding the preceding string's LAST
             * glyph as extraSpacing — LOST when that glyph was
             * box-rejected (the reject path translates scaledDim only,
             * pdf.worker.js:36704-36711) */
            double kf0 = tj_last_clip ? e->f0 - e->f1 : e->f0;
            tj_last_clip = 0;
            st.cur_x -= kf0 / 1000.0 * st.size * st.sx * st.tz;
            if (e->flag)
                st.cur_x += (double)e->flag * st.tc * st.sx * st.tz;
            if (st.size > 0.0) {
                long base0 = tjmark < 0 ? 0 : tjmark;
                /* pdf.js's advanceX compares against the ONE
                 * page-level prevTransform — local buffer anchor
                 * first, page-level fallback (there is only one
                 * prevTransform; the flush band sees it too) */
                int have_g2 = tj_have_prev || st.have_last_end_x;
                double g2 = tj_have_prev ? st.cur_x - tj_prev_x
                            : st.have_last_end_x
                                ? st.cur_x - st.last_end_x
                                : 0.0;
                /* last-ENSURED item's bands while the boundary compare
                 * is pending (tj_bpend): a font-change flush does not
                 * refresh the thresholds until the buffer's first real
                 * glyph re-ensures the item, ensureTextContentItem
                 * in jsvm's ensure_item) */
                double lim = (tj_bpend && st.item_size > 0.0)
                                 ? st.item_size
                                 : st.size * st.sx;
                /* excluding the provisional absorb: pdf.js's
                 * compare hasn't run yet */
                double reg_k =
                    (tj_bpend ? st.wreg : tj_stale) + tj_wacc -
                    tj_tailw;
                /* a kept SINGLE trailing space in the
                 * shouldAddWhitepsace window is a FLUSH in pdf.js
                 * (flushTextContentItem + pushWhitespace) — flush
                 * eagerly so the register restarts; the pend
                 * machinery re-materializes the standalone space */
                long nreal0 = tj_tail_sp > 0 ? tj_tail_sp : 1;
                int keep1 = olen > base0 && out[olen - 1] == ' ' &&
                            have_g2 && reg_k > 0.0 &&
                            0.03 * lim < g2 &&
                            g2 <= RP_GAP_FRACTION * lim && nreal0 == 1;
                if (have_g2 && reg_k <= 0.0 && g2 != 0.0)
                    return -3; /* zero/negative register kern compare:
                                  the degenerate bands live in jsvm */
                if (have_g2 &&
                    (keep1 || g2 < -0.2 * lim || g2 > 0.6 * lim)) {
                    /* the kern leaves the in-flow window: pdf.js
                     * FLUSHES mid-TJ (carriage return / standalone
                     * space) and the next element's item anchors at
                     * the CURRENT pen. End the buffered segment; the
                     * next show takes the CR/standalone path. */
                    int rc = rp_show(&st, out, &olen, ocap,
                                     tjmark < 0 ? olen : tjmark,
                                     st.y + st.rise,
                                     tj_have_first ? tj_first_x
                                                   : tj_start_x,
                                     st.size * st.sx, RP_HS(&st),
                                     tj_have_prev, tj_wacc - tj_tailw);
                    if (rc == -3)
                        return -3;
                    if (rc < 0)
                        return -1;
                    if (rc != 2 && tj_have_prev) {
                        st.last_end_x = tj_prev_x;
                        st.have_last_end_x = 1;
                    }
                    if (tj_kill) {
                        st.pending_space = 1;
                        st.pending_multi = 1;
                        tj_kill = 0;
                    }
                    tjmark = olen;
                    tj_start_x = st.cur_x;
                    tj_have_prev = 0;
                    tj_have_first = 0;
                    tj_wacc = 0.0;
                    tj_bpend = 1;
                    tj_gabs = 0.0;
                    tj_tailw = 0.0;
                    tj_tail_sp = 0;
                    tj_fake = 0;
                    break;
                }
                double kern = kf0 / 1000.0 * st.size;
                long base = base0;
                (void)kern;
                if (olen > base && out[olen - 1] == ' ') {
                    /* pdf.js buffers NO space glyphs: the trailing
                     * run's fate is decided ONCE at the next glyph
                     * (compareWithLastPosition over the accumulated
                     * translate, pdf.worker.js:36626-36651). gap <=
                     * notASpace (0.03) kills the run; gap <=
                     * trackingSpaceMin (0.102) keeps a space only
                     * when exactly ONE glyph was saved
                     * (shouldAddWhitepsace sees [' ',' '] for longer
                     * runs); above that one space materializes — the
                     * kept run collapses downstream. The position gap
                     * (cur_x - tj_prev_x) IS pdf.js's advanceX here;
                     * the width formula is the fallback when no real
                     * glyph anchors the buffer yet. */
                    /* NO anchor at all (null page-level prevTransform
                     * — an all-zero-width prefix): pdf.js's compare at
                     * the next glyph early-returns TRUE
                     * (pdf.worker.js:36543-36545) before notASpace /
                     * shouldAddWhitepsace — the kern makes NO decision */
                    long nreal = tj_tail_sp > 0 ? tj_tail_sp : 1;
                    int kill = 0;
                    if (have_g2) {
                        kill = g2 <= 0.03 * lim ||
                               (nreal != 1 &&
                                g2 <= RP_GAP_FRACTION * lim);
                        if (kill || g2 > RP_GAP_FRACTION * lim) {
                            /* killed (tracking-else) and in-flow
                             * outcomes absorb the gap — incrementally
                             * (g2 is cumulative from a fixed anchor)
                             * and only once the boundary is resolved
                             * (while pending, rp_boundary_stale owns
                             * the whole gap) */
                            if (!tj_bpend) {
                                tj_wacc += g2 - tj_gabs;
                                tj_tailw += g2 - tj_gabs;
                            }
                            tj_gabs = g2;
                        }
                    }
                    if (kill) {
                        while (olen > base && out[olen - 1] == ' ')
                            olen--;
                        tj_tail_sp = 0;
                        tj_kill = 1;
                    }
                } else if (have_g2 && g2 > RP_GAP_FRACTION * lim) {
                    /* the POSITION gap (cur_x - tj_prev_x) is pdf.js's
                     * advanceX at the next glyph; with a null
                     * prevTransform the compare never runs, so a
                     * no-anchor kern adds nothing */
                    tj_fake = 1;
                    if (!tj_bpend) {
                        tj_wacc += g2 - tj_gabs; /* in-flow absorb */
                        tj_tailw += g2 - tj_gabs;
                    }
                    tj_gabs = g2;
                } else if (have_g2 && g2 != 0.0) {
                    /* quiet kern gap: absorbed (width += advanceX) */
                    if (!tj_bpend) {
                        tj_wacc += g2 - tj_gabs;
                        tj_tailw += g2 - tj_gabs;
                    }
                    tj_gabs = g2;
                }
            }
            break;
        }
        case K_ANCHOR:
            if (e->flag == 1 && e->f2 != st.sx && st.line_open &&
                !st.force_flush) {
                st.scale_flush = 1; /* updateAdvanceScale zeroes the open
                                       item's width; it early-returns on a
                                       closed (flushed) item */
                st.wreg = 0.0; /* the register stays zero until the
                                  next append re-opens the item */
                if (st.sx != 0.0) /* the open item's advance thresholds
                                     rescale: pdf.js divides advanceX by
                                     the NEW textAdvanceScale, jsvm's
                                     update_advance_scale) */
                    st.item_size *= fabs(e->f2 / st.sx);
            }
            st.cur_x = e->f0;
            st.y = e->f1;
            st.sx = e->f2;
            st.sy = e->f3;
            st.line_ox = e->f0;
            st.line_oy = e->f1;
            break;
        case K_CM: {
            /* cm/Q mid-text: the PEN follows the new matrix (pdf.js
             * derives every glyph position from ctm x tm); advances
             * since the line origin rescale by the sx ratio.
             * prevTransform/glyph_y keep their OLD device points —
             * pdf.js never retransforms them. */
            double rx = st.sx != 0.0 ? e->f2 / st.sx : 1.0;
            double ry = st.sy != 0.0 ? e->f3 / st.sy : 1.0;
            st.cur_x = e->f0 + (st.cur_x - st.line_ox) * rx;
            st.y = e->f1 + (st.y - st.line_oy) * ry;
            st.line_ox = e->f0;
            st.line_oy = e->f1;
            st.sx = e->f2;
            st.sy = e->f3;
            break;
        }
        case K_TJSTART:
            tjmark = olen;
            tj_start_x = st.cur_x;
            tj_have_prev = 0;
            tj_have_first = 0;
            tj_wacc = 0.0;
            tj_bpend = 1;
            tj_gabs = 0.0;
            tj_tailw = 0.0;
            tj_tail_sp = 0;
            tj_kill = 0;
            tj_fake = 0;
            break;
        case K_TJEND: {
            int rc = rp_show(&st, out, &olen, ocap,
                             tjmark < 0 ? olen : tjmark,
                             st.y + st.rise,
                             tj_have_first ? tj_first_x : tj_start_x,
                             st.size * st.sx, RP_HS(&st), tj_have_prev,
                             tj_wacc - tj_tailw);
            if (rc == -3)
                return -3;
            if (rc < 0)
                return -1;
            if (rc != 2 && tj_have_prev) {
                st.last_end_x = tj_prev_x;
                st.have_last_end_x = 1;
            }
            if (tj_kill) {
                st.pending_space = 1;
                st.pending_multi = 1;
                tj_kill = 0;
            }
            tj_fake = 0;
            tjmark = -1;
            break;
        }
        case K_FONT: {
            long nf = font_idx[i];
            double nsize = e->f0;
            if (nf != st.cur_font || nsize != st.size)
                st.force_flush = 1; /* setFont flush */
            st.cur_font = nf;
            st.size = nsize;
            break;
        }
        case K_STATE:
            st.tc = e->f0;
            st.tw = e->f1;
            st.tz = e->f2;
            st.rise = e->f3;
            break;
        case K_MCFLUSH:
            st.force_flush = 1; /* BMC/BDC/EMC unconditional flush */
            break;
        case K_QSAVE: {
            long qd = (long)qst[0];
            if (qd < 64) {
                double *q = qst + 1 + qd * 12;
                q[0] = st.cur_x; q[1] = st.y;
                q[2] = st.sx; q[3] = st.sy;
                q[4] = st.tc; q[5] = st.tw; q[6] = st.tz; q[7] = st.rise;
                q[8] = st.size; q[9] = (double)st.cur_font;
                q[10] = st.line_ox; q[11] = st.line_oy;
                qst[0] = (double)(qd + 1);
            }
            break;
        }
        case K_QRESTORE: {
            long qd = (long)qst[0];
            if (qd > 0) {
                const double *q = qst + 1 + (qd - 1) * 12;
                /* restore flushes ONLY on a font/size change
                 * (pdf.worker.js:37112); no updateAdvanceScale runs */
                if ((long)q[9] != st.cur_font || q[8] != st.size)
                    st.force_flush = 1;
                st.cur_x = q[0]; st.y = q[1];
                st.sx = q[2]; st.sy = q[3];
                st.tc = q[4]; st.tw = q[5]; st.tz = q[6]; st.rise = q[7];
                st.size = q[8]; st.cur_font = (long)q[9];
                st.line_ox = q[10]; st.line_oy = q[11];
                qst[0] = (double)(qd - 1);
            }
            break;
        }
        case K_XOBJ:
            ret = i;
            goto done;
        }
    }
done:
    state[0] = st.y;
    state[1] = st.cur_x;
    state[2] = st.size;
    state[3] = st.sx;
    state[4] = st.tc;
    state[5] = st.tw;
    state[6] = st.tz;
    state[7] = st.rise;
    state[8] = st.last_y;
    state[9] = st.have_last_y ? 1.0 : 0.0;
    state[10] = st.last_end_x;
    state[11] = st.have_last_end_x ? 1.0 : 0.0;
    state[12] = st.line_open ? 1.0 : 0.0;
    state[13] = (double)st.last_char;
    state[14] = (double)st.cur_font;
    state[15] = st.pending_space ? 1.0 : 0.0;
    state[26] = st.pending_multi ? 1.0 : 0.0;
    state[16] = st.glyph_y;
    state[17] = st.have_glyph_y ? 1.0 : 0.0;
    state[18] = st.force_flush ? 1.0 : 0.0;
    state[19] = st.scale_flush ? 1.0 : 0.0;
    state[20] = st.item_size;
    /* 21-25 (view box) are read-only inputs */
    state[29] = st.sy;
    state[31] = st.wreg;
    memcpy(qstate, qst, sizeof(double) * (1 + 12 * (size_t)(long)qst[0]));
    state[30] = st.item_hsize;
    state[27] = st.line_ox;
    state[28] = st.line_oy;
    *out_len = olen;
    return ret;
}

/* ------------------------------------------------------------------ *
 * pdfs_tokenize — the SYNTHETIC-dialect content-stream tokenizer
 * (kernels/pdfk.py _tokenize). One scan over the UTF-8 bytes of a
 * mini-PDF content stream finds the clauses that Python's `re`
 * finditer would find, leftmost first, for the grammar
 *
 *   STR \s+ Tj | \[(?:\\.|LIT|[^\]])*\] \s+ TJ | NUM \s+ NUM \s+ T[dD]
 *   | NUM (\s+ NUM){5} \s+ Tm | NUM \s+ TL | NUM \s+ Ts | T\*
 *   | STR \s+ ' | NUM \s+ NUM \s+ STR \s+ " | /NAME \s+ NUM \s+ Tf | BT
 *   | STR | NUM | /NAME | [A-Za-z'"*]+                  (skipped)
 *
 * with LIT = \((?:\\.|[^\\()])*\) (no nesting), HEX =
 * <[0-9A-Fa-f \t\r\n]*>, STR = LIT|HEX, NAME = [A-Za-z0-9]+, NUM =
 * [-+]?(?:\d+\.?\d*|\.\d+), '.' matching newlines, and \s, \d the
 * str-mode classes of Python 3.11 `re`: 29 whitespace code points and
 * the 66 blocks of ten Unicode 14 decimal digits. A number's value is
 * float() of its text. A TJ array is read left to right over its own
 * span: a string adds its text, a number below neg_thresh one space.
 *
 * Only the array clause backtracks. At the stream's first '[',
 * sk_arr_memo replays the regex's depth-first search for every later
 * position in one right-to-left pass, so the whole scan stays linear.
 *
 * Decoded item text goes into `blob` (UTF-8; octal/hex bytes 0x80-0xFF
 * re-encode as the 2-byte code points chr() gives); `offs[i]` is item
 * i's END offset, `ys`/`scales` its baseline and Tf scale. Bidi is the
 * Python wrapper's. A string's text is never longer than its source span
 * (delimiters included) and an item takes at least 4 input bytes
 * ("()\s'"), so bcap >= n and icap > n / 4 always suffice; `memo`
 * holds n + 1 entries. Returns the item count, or -1 when a capacity
 * was short anyway (an assertion, not a fallback).
 * ------------------------------------------------------------------ */

/* str-mode \s at d[p]: the char's byte length, or 0 */
static inline int sk_ws(const unsigned char *d, long p, long n)
{
    int len;
    unsigned c = d[p];
    if (c < 0x80) /* space, \t-\r, \x1c-\x1f */
        return c == ' ' || (c >= 0x09 && c <= 0x0d) ||
               (c >= 0x1c && c <= 0x1f);
    c = utf8_cp(d, p, n, &len);
    return (c == 0x85 || c == 0xA0 || c == 0x1680 ||
            (c >= 0x2000 && c <= 0x200A) || c == 0x2028 || c == 0x2029 ||
            c == 0x202F || c == 0x205F || c == 0x3000)
               ? len
               : 0;
}

static inline long sk_skipws(const unsigned char *d, long q, long n)
{
    int len;
    while (q < n && (len = sk_ws(d, q, n)) > 0)
        q += len;
    return q;
}

static long sk_lit(const unsigned char *d, long p, long n)
{
    /* synthetic literal \((?:\\.|[^\\()])*\) — NO nesting: a bare '('
     * inside fails the string. p at '(' -> end after ')', or -1. */
    long q = p + 1;
    while (q < n) {
        unsigned char c = d[q];
        if (c == '\\')
            q += 2; /* \\. with re.S: backslash + any byte */
        else if (c == ')')
            return q + 1;
        else if (c == '(')
            return -1;
        else
            q++;
    }
    return -1;
}

static long sk_hex(const unsigned char *d, long p, long n)
{
    /* <[0-9A-Fa-f \t\r\n]*> — any other byte fails. */
    long q = p + 1;
    while (q < n) {
        unsigned char c = d[q];
        if (c == '>')
            return q + 1;
        if ((c >= '0' && c <= '9') || (c >= 'A' && c <= 'F') ||
            (c >= 'a' && c <= 'f') || c == ' ' || c == '\t' ||
            c == '\r' || c == '\n')
            q++;
        else
            return -1;
    }
    return -1;
}

static long sk_str(const unsigned char *d, long p, long n)
{
    if (d[p] == '(')
        return sk_lit(d, p, n);
    if (d[p] == '<')
        return sk_hex(d, p, n);
    return -1;
}

/* the ']' at b followed by \s+TJ -> the index of that TJ, else -1 */
static long sk_closes(const unsigned char *d, long b, long n)
{
    long t = sk_skipws(d, b + 1, n);
    return (t > b + 1 && t + 1 < n && d[t] == 'T' && d[t + 1] == 'J') ? t
                                                                      : -1;
}

/* memo[b] for lo <= b <= n: the ']' at which the regex closes an array
 * whose body resumes at b, or -1. In the regex's order that is the
 * answer after the first of \\. , a literal, one char other than ']'
 * that has one, else b itself when it closes. The answer does not
 * depend on the '[' that reached b, so one right-to-left pass serves
 * every array of the stream. lit1/lit2: where a literal's body that
 * starts at b + 1 / b + 2 ends (after its ')'), or -1. */
static void sk_arr_memo(const unsigned char *d, long n, long lo, long *memo)
{
    long lit1 = -1, lit2 = -1;
    memo[n] = -1;
    for (long b = n - 1; b >= lo; b--) {
        unsigned char c = d[b];
        long r = -1, lit0;
        if (c == '\\' && b + 1 < n)
            r = memo[b + 2];
        if (r < 0 && c == '(' && lit1 >= 0)
            r = memo[lit1];
        if (r < 0 && c != ']')
            r = memo[b + 1];
        if (r < 0 && c == ']' && sk_closes(d, b, n) >= 0)
            r = b;
        memo[b] = r;
        if (c == ')')
            lit0 = b + 1;
        else if (c == '(')
            lit0 = -1;
        else if (c == '\\')
            lit0 = b + 1 < n ? lit2 : -1;
        else
            lit0 = lit1;
        lit2 = lit1;
        lit1 = lit0;
    }
}

/* emit one codepoint 0-255 as UTF-8 (chr(v) / latin-1 decode twin) */
#define SK_PUTCP(V)                                                          \
    do {                                                                     \
        unsigned int v_ = (V);                                               \
        if (v_ < 0x80) {                                                     \
            blob[w++] = (unsigned char)v_;                                   \
        } else {                                                             \
            blob[w++] = (unsigned char)(0xC0 | (v_ >> 6));                   \
            blob[w++] = (unsigned char)(0x80 | (v_ & 0x3F));                 \
        }                                                                    \
    } while (0)

long pdfs_tokenize(const unsigned char *d, long n, unsigned char *blob,
                   long bcap, long *offs, double *ys, double *scales,
                   long icap, long *memo, double neg_thresh, long *blen)
{
    double y = 0.0, leading = 0.0, scale = 0.0, rise = 0.0;
    long it = 0;
    long w = 0;
    long p = 0;
    int memo_built = 0;

    /* decode a string span [a, b) incl. delimiters into blob (its text
     * is never longer than the span) as oracle._unescape does: hex
     * pairs (odd pads 0) via latin-1; literal octal \1-3 digits & 0xFF,
     * \CR/\LF/\CRLF vanish, n/r/t map, every other escaped char stands
     * for itself (the synthetic _ESC has no b/f!), multi-byte chars
     * copied whole. */
#define SK_EMIT_STR(A, B)                                                    \
    do {                                                                     \
        long a_ = (A), b_ = (B);                                             \
        if (w + (b_ - a_) > bcap)                                            \
            return -1;                                                       \
        if (d[a_] == '<') {                                                  \
            int hi_ = -1;                                                    \
            for (long i_ = a_ + 1; i_ < b_ - 1; i_++) {                      \
                unsigned char hc_ = d[i_];                                   \
                int hv_;                                                     \
                if (hc_ >= '0' && hc_ <= '9')                                \
                    hv_ = hc_ - '0';                                         \
                else if (hc_ >= 'A' && hc_ <= 'F')                           \
                    hv_ = hc_ - 'A' + 10;                                    \
                else if (hc_ >= 'a' && hc_ <= 'f')                           \
                    hv_ = hc_ - 'a' + 10;                                    \
                else                                                         \
                    continue;                                                \
                if (hi_ < 0) {                                               \
                    hi_ = hv_;                                               \
                } else {                                                     \
                    SK_PUTCP((hi_ << 4) | hv_);                              \
                    hi_ = -1;                                                \
                }                                                            \
            }                                                                \
            if (hi_ >= 0)                                                    \
                SK_PUTCP(hi_ << 4);                                          \
        } else {                                                             \
            long q_ = a_ + 1, e_ = b_ - 1;                                   \
            while (q_ < e_) {                                                \
                unsigned char sc_ = d[q_];                                   \
                if (sc_ != '\\') {                                           \
                    /* non-escape byte: verbatim (source is UTF-8, so    \
                     * multi-byte chars pass through unchanged) */           \
                    blob[w++] = sc_;                                         \
                    q_++;                                                    \
                    continue;                                                \
                }                                                            \
                q_++;                                                        \
                if (q_ >= e_) {                                              \
                    /* lone trailing backslash: no escape matches — the  \
                     * char stays literal in the Python sub */               \
                    SK_PUTCP('\\');                                          \
                    break;                                                   \
                }                                                            \
                unsigned char ec_ = d[q_];                                   \
                if (ec_ >= '0' && ec_ <= '7') {                              \
                    int ov_ = ec_ - '0', k_ = 1;                             \
                    q_++;                                                    \
                    while (q_ < e_ && k_ < 3 && d[q_] >= '0' &&              \
                           d[q_] <= '7') {                                   \
                        ov_ = ov_ * 8 + (d[q_] - '0');                       \
                        k_++;                                                \
                        q_++;                                                \
                    }                                                        \
                    SK_PUTCP(ov_ & 0xFF);                                    \
                } else if (ec_ == '\r') {                                    \
                    q_++;                                                    \
                    if (q_ < e_ && d[q_] == '\n')                            \
                        q_++;                                                \
                } else if (ec_ == '\n') {                                    \
                    q_++;                                                    \
                } else if (ec_ == 'n') {                                     \
                    SK_PUTCP('\n');                                          \
                    q_++;                                                    \
                } else if (ec_ == 'r') {                                     \
                    SK_PUTCP('\r');                                          \
                    q_++;                                                    \
                } else if (ec_ == 't') {                                     \
                    SK_PUTCP('\t');                                          \
                    q_++;                                                    \
                } else {                                                     \
                    /* self-escape or unknown: the char stands for       \
                     * itself; copy a full UTF-8 sequence */                 \
                    blob[w++] = ec_;                                         \
                    q_++;                                                    \
                    if (ec_ >= 0x80)                                         \
                        while (q_ < e_ && (d[q_] & 0xC0) == 0x80)            \
                            blob[w++] = d[q_++];                             \
                }                                                            \
            }                                                                \
        }                                                                    \
    } while (0)

#define SK_ITEM()                                                            \
    do {                                                                     \
        if (it >= icap)                                                      \
            return -1;                                                       \
        offs[it] = w;                                                        \
        ys[it] = y + rise;                                                   \
        scales[it] = scale;                                                  \
        it++;                                                                \
    } while (0)

    while (p < n) {
        unsigned char c = d[p];
        if (c == ' ' || c == '\n') {
            p++;
            continue;
        }
        if (c == '(' || c == '<') {
            long e = sk_str(d, p, n);
            if (e < 0) {
                p++;
                continue;
            }
            long q = sk_skipws(d, e, n);
            if (q > e && q + 1 < n && d[q] == 'T' && d[q + 1] == 'j') {
                SK_EMIT_STR(p, e);
                SK_ITEM();
                p = q + 2;
                continue;
            }
            if (q > e && q < n && d[q] == '\'') {
                y -= leading;
                SK_EMIT_STR(p, e);
                SK_ITEM();
                p = q + 1;
                continue;
            }
            p = e; /* skip-STR: consumed, no action */
            continue;
        }
        if (c == '[') {
            /* arr clause: \[(?:\\.|LIT|[^\]])*\] \s+ TJ */
            if (!memo_built) {
                sk_arr_memo(d, n, p + 1, memo);
                memo_built = 1;
            }
            long close = memo[p + 1];
            if (close < 0) {
                p++; /* no alternative matches at '[' */
                continue;
            }
            /* elements, left to right over the array's own span: STR
             * (lit OR hex) unescapes into the item; NUM below neg_thresh
             * adds one space; anything else advances one byte */
            for (long i2 = p + 1; i2 < close;) {
                unsigned char ec = d[i2];
                if (ec == '(' || ec == '<') {
                    long se = sk_str(d, i2, close);
                    if (se > 0) {
                        SK_EMIT_STR(i2, se);
                        i2 = se;
                        continue;
                    }
                } else if (is_num_start(ec) || ec >= 0xC0) {
                    double nv;
                    long ne = scan_number(d, i2, close, &nv, 1);
                    if (ne > i2) {
                        if (nv < neg_thresh) {
                            if (w >= bcap)
                                return -1;
                            SK_PUTCP(' ');
                        }
                        i2 = ne;
                        continue;
                    }
                }
                i2++;
            }
            SK_ITEM();
            p = sk_closes(d, close, n) + 2;
            continue;
        }
        if (is_num_start(c) || c >= 0xC0) { /* \d may be non-ASCII */
            double v1;
            long e1 = scan_number(d, p, n, &v1, 1);
            if (e1 == p) {
                p++; /* bare sign/dot, or a non-digit char */
                continue;
            }
            long q = sk_skipws(d, e1, n);
            if (q > e1) {
                double v2;
                long e2 = scan_number(d, q, n, &v2, 1);
                if (e2 > q) {
                    /* 1) NUM NUM T[dD] */
                    long r = sk_skipws(d, e2, n);
                    if (r > e2 && r + 1 < n && d[r] == 'T' &&
                        (d[r + 1] == 'd' || d[r + 1] == 'D')) {
                        if (d[r + 1] == 'D')
                            leading = -v2;
                        y += v2;
                        p = r + 2;
                        continue;
                    }
                    /* 2) six NUMs then Tm */
                    {
                        long t = e2;
                        double v6 = v2;
                        int k, okm = 1;
                        for (k = 2; k < 6; k++) {
                            long ws = sk_skipws(d, t, n);
                            if (ws == t) {
                                okm = 0;
                                break;
                            }
                            double vk;
                            long ek = scan_number(d, ws, n, &vk, 1);
                            if (ek == ws) {
                                okm = 0;
                                break;
                            }
                            v6 = vk;
                            t = ek;
                        }
                        if (okm) {
                            long ws = sk_skipws(d, t, n);
                            if (ws > t && ws + 1 < n && d[ws] == 'T' &&
                                d[ws + 1] == 'm') {
                                y = v6;
                                p = ws + 2;
                                continue;
                            }
                        }
                    }
                    /* 5) NUM NUM STR " (quote-2; aw/ac ignored) */
                    if (r > e2 && r < n && (d[r] == '(' || d[r] == '<')) {
                        long se = sk_str(d, r, n);
                        if (se > 0) {
                            long u = sk_skipws(d, se, n);
                            if (u > se && u < n && d[u] == '"') {
                                y -= leading;
                                SK_EMIT_STR(r, se);
                                SK_ITEM();
                                p = u + 1;
                                continue;
                            }
                        }
                    }
                }
                /* 3) NUM TL   4) NUM Ts  (single-number clauses) */
                if (q + 1 < n && d[q] == 'T' && d[q + 1] == 'L') {
                    leading = v1;
                    p = q + 2;
                    continue;
                }
                if (q + 1 < n && d[q] == 'T' && d[q + 1] == 's') {
                    rise = v1;
                    p = q + 2;
                    continue;
                }
            }
            p = e1; /* skip-NUM */
            continue;
        }
        if (c == '/') {
            long q = p + 1;
            while (q < n &&
                   ((d[q] >= 'A' && d[q] <= 'Z') ||
                    (d[q] >= 'a' && d[q] <= 'z') ||
                    (d[q] >= '0' && d[q] <= '9')))
                q++;
            if (q == p + 1) {
                p++; /* bare slash matches nothing */
                continue;
            }
            long r = sk_skipws(d, q, n);
            if (r > q) {
                double fv;
                long e2 = scan_number(d, r, n, &fv, 1);
                if (e2 > r) {
                    long t = sk_skipws(d, e2, n);
                    if (t > e2 && t + 1 < n && d[t] == 'T' &&
                        d[t + 1] == 'f') {
                        scale = fv;
                        p = t + 2;
                        continue;
                    }
                }
            }
            p = q; /* skip-name */
            continue;
        }
        if (c == 'T' && p + 1 < n && d[p + 1] == '*') {
            y -= leading;
            p += 2;
            continue;
        }
        if (c == 'B' && p + 1 < n && d[p + 1] == 'T') {
            y = 0.0;
            rise = 0.0;
            p += 2;
            continue;
        }
        if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
            c == '\'' || c == '"' || c == '*') {
            p++;
            while (p < n &&
                   ((d[p] >= 'A' && d[p] <= 'Z') ||
                    (d[p] >= 'a' && d[p] <= 'z') || d[p] == '\'' ||
                    d[p] == '"' || d[p] == '*'))
                p++;
            continue;
        }
        p++;
    }
    *blen = w;
    return it;
#undef SK_EMIT_STR
#undef SK_ITEM
}
#undef SK_PUTCP
