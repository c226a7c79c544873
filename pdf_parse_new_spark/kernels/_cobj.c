/* PDF object-structure parser as a CPython extension.
 *
 * A performance port of pdfb.parse_object (recursive descent over names,
 * strings, numbers, dicts, arrays, refs) that builds the SAME Python
 * objects — dict with plain-str keys, list, bytes, Name (str subclass),
 * Ref, int/float/bool/None — directly through the C API, so the per-token
 * interpreter overhead (byte indexing, regex matching, small-object
 * churn) disappears. Semantics mirror the pure-Python implementation
 * exactly; that version remains the reference and the fallback when no C
 * compiler or Python headers are available (tests/test_cobj.py asserts
 * equivalence over fixtures and fuzz streams).
 *
 * The module is configured once with the Name and Ref classes from
 * pdfb.py (configure(Name, Ref)); parse_object(data, pos, refs=True)
 * returns (obj, next_pos) and raises ValueError on malformed input, like
 * the Python original.
 */

#define PY_SSIZE_T_CLEAN
#include <Python.h>
#include <string.h>

static PyObject *g_name_cls = NULL;
static PyObject *g_ref_cls = NULL;

static const unsigned char WS[256] = {
    [0x00] = 1, [0x09] = 1, [0x0A] = 1, [0x0C] = 1, [0x0D] = 1, [0x20] = 1,
};
static const unsigned char DELIM[256] = {
    ['('] = 1, [')'] = 1, ['<'] = 1, ['>'] = 1, ['['] = 1, [']'] = 1,
    ['{'] = 1, ['}'] = 1, ['/'] = 1, ['%'] = 1,
};
/* the \s class of Python's re on bytes (used by _REF_RE): note it differs
 * from PDF whitespace — \v instead of NUL */
static const unsigned char RE_WS[256] = {
    [' '] = 1, ['\t'] = 1, ['\n'] = 1, ['\r'] = 1, ['\f'] = 1, ['\v'] = 1,
};

static Py_ssize_t skip_ws(const unsigned char *d, Py_ssize_t pos,
                          Py_ssize_t n)
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

/* ---- interned (Name, plain-str) pairs keyed on the raw /Name span ---- */

#define NCACHE 1024 /* power of two */

typedef struct {
    unsigned char *key;
    Py_ssize_t len;
    PyObject *name; /* Name instance */
    PyObject *str;  /* plain str (dict key form) */
} NEnt;

static NEnt ncache[NCACHE];

static unsigned int bhash(const unsigned char *s, Py_ssize_t n)
{
    unsigned int h = 2166136261u;
    for (Py_ssize_t i = 0; i < n; i++)
        h = (h ^ s[i]) * 16777619u;
    return h;
}

static int hexval(unsigned char c)
{
    if (c >= '0' && c <= '9')
        return c - '0';
    if (c >= 'A' && c <= 'F')
        return c - 'A' + 10;
    if (c >= 'a' && c <= 'f')
        return c - 'a' + 10;
    return -1;
}

/* build (or fetch) the Name/str pair for the raw span [a, b); returns
 * borrowed-from-cache pointers through *name and *str (caller must INCREF
 * whichever it keeps), or -1 with an exception set. */
static int name_pair(const unsigned char *d, Py_ssize_t a, Py_ssize_t b,
                     PyObject **name, PyObject **str)
{
    Py_ssize_t len = b - a;
    NEnt *e = &ncache[bhash(d + a, len) & (NCACHE - 1)];
    if (e->name && e->len == len && memcmp(e->key, d + a, len) == 0) {
        *name = e->name;
        *str = e->str;
        return 0;
    }
    /* #xx unescape (exactly two hex digits, else '#' stands for itself) */
    unsigned char small[256];
    unsigned char *buf = small;
    if (len > (Py_ssize_t)sizeof(small)) {
        buf = PyMem_Malloc(len);
        if (!buf) {
            PyErr_NoMemory();
            return -1;
        }
    }
    Py_ssize_t m = 0;
    for (Py_ssize_t i = a; i < b; i++) {
        int h1, h2;
        if (d[i] == '#' && i + 2 < b && (h1 = hexval(d[i + 1])) >= 0 &&
            (h2 = hexval(d[i + 2])) >= 0) {
            buf[m++] = (unsigned char)((h1 << 4) | h2);
            i += 2;
        } else {
            buf[m++] = d[i];
        }
    }
    PyObject *s = PyUnicode_DecodeLatin1((const char *)buf, m, NULL);
    if (buf != small)
        PyMem_Free(buf);
    if (!s)
        return -1;
    PyObject *nm = PyObject_CallFunctionObjArgs(g_name_cls, s, NULL);
    if (!nm) {
        Py_DECREF(s);
        return -1;
    }
    /* install in the slot (overwrite-evict) */
    unsigned char *kcopy = PyMem_Malloc(len ? len : 1);
    if (kcopy) {
        memcpy(kcopy, d + a, len);
        if (e->name) {
            PyMem_Free(e->key);
            Py_DECREF(e->name);
            Py_DECREF(e->str);
        }
        e->key = kcopy;
        e->len = len;
        e->name = nm;
        e->str = s;
        *name = nm;
        *str = s;
        return 0;
    }
    /* allocation failed: skip caching, hand ownership to a dead slot...
     * simplest correct path: return uncached strong refs via statics is
     * messy — treat as transient entries by storing into *name and *str and
     * flagging with NULL slot; caller INCREFs, so balance with DECREF
     * after. To keep the contract uniform, leak-free: */
    *name = nm;
    *str = s;
    /* caller will INCREF what it keeps; drop our refs afterwards via a
     * silent slot-less decref — emulate by borrowing: store into a
     * 1-entry scratch that the next call releases. */
    static PyObject *scratch_nm = NULL, *scratch_s = NULL;
    Py_XDECREF(scratch_nm);
    Py_XDECREF(scratch_s);
    scratch_nm = nm;
    scratch_s = s;
    return 0;
}

/* ---- growable byte buffer for string bodies ---- */

typedef struct {
    unsigned char small[512];
    unsigned char *p;
    Py_ssize_t len, cap;
} BBuf;

static void bb_init(BBuf *b)
{
    b->p = b->small;
    b->len = 0;
    b->cap = sizeof(b->small);
}

static int bb_put(BBuf *b, unsigned char c)
{
    if (b->len >= b->cap) {
        Py_ssize_t nc = b->cap * 2;
        unsigned char *np;
        if (b->p == b->small) {
            np = PyMem_Malloc(nc);
            if (np)
                memcpy(np, b->small, b->len);
        } else {
            np = PyMem_Realloc(b->p, nc);
        }
        if (!np) {
            PyErr_NoMemory();
            return -1;
        }
        b->p = np;
        b->cap = nc;
    }
    b->p[b->len++] = c;
    return 0;
}

static void bb_free(BBuf *b)
{
    if (b->p != b->small)
        PyMem_Free(b->p);
}

/* ---- the recursive parser ---- */

#define MAXDEPTH 200 /* the Python original dies by RecursionError */

static PyObject *parse_obj(const unsigned char *d, Py_ssize_t n,
                           Py_ssize_t pos, int refs, int depth,
                           Py_ssize_t *end);

static PyObject *parse_literal(const unsigned char *d, Py_ssize_t n,
                               Py_ssize_t pos, Py_ssize_t *end)
{
    BBuf b;
    bb_init(&b);
    Py_ssize_t depth = 1;
    pos++;
    while (pos < n) {
        unsigned char c = d[pos];
        if (c == 0x5C) { /* backslash */
            pos++;
            if (pos >= n)
                break;
            unsigned char e = d[pos];
            switch (e) {
            case 'n': if (bb_put(&b, '\n')) goto fail; pos++; break;
            case 'r': if (bb_put(&b, '\r')) goto fail; pos++; break;
            case 't': if (bb_put(&b, '\t')) goto fail; pos++; break;
            case 'b': if (bb_put(&b, '\b')) goto fail; pos++; break;
            case 'f': if (bb_put(&b, '\f')) goto fail; pos++; break;
            case '(': case ')': case '\\':
                if (bb_put(&b, e)) goto fail;
                pos++;
                break;
            case '\r':
                pos++;
                if (pos < n && d[pos] == '\n')
                    pos++;
                break;
            case '\n':
                pos++;
                break;
            default:
                if (e >= '0' && e <= '7') { /* octal, 1-3 digits */
                    int v = e - '0', k = 1;
                    pos++;
                    while (pos < n && k < 3 && d[pos] >= '0' &&
                           d[pos] <= '7') {
                        v = v * 8 + (d[pos] - '0');
                        k++;
                        pos++;
                    }
                    if (bb_put(&b, (unsigned char)(v & 0xFF)))
                        goto fail;
                } else { /* unknown escape: char stands for itself */
                    if (bb_put(&b, e))
                        goto fail;
                    pos++;
                }
            }
        } else if (c == '(') {
            depth++;
            if (bb_put(&b, c))
                goto fail;
            pos++;
        } else if (c == ')') {
            depth--;
            if (depth == 0) {
                pos++;
                goto done;
            }
            if (bb_put(&b, c))
                goto fail;
            pos++;
        } else {
            if (bb_put(&b, c))
                goto fail;
            pos++;
        }
    }
done:;
    PyObject *r = PyBytes_FromStringAndSize((const char *)b.p, b.len);
    bb_free(&b);
    *end = pos;
    return r;
fail:
    bb_free(&b);
    return NULL;
}

static PyObject *parse_hex(const unsigned char *d, Py_ssize_t n,
                           Py_ssize_t pos, Py_ssize_t *end)
{
    Py_ssize_t gt = -1;
    for (Py_ssize_t i = pos + 1; i < n; i++) {
        if (d[i] == '>') {
            gt = i;
            break;
        }
    }
    if (gt < 0) {
        PyErr_SetString(PyExc_ValueError, "unterminated hex string");
        return NULL;
    }
    BBuf b;
    bb_init(&b);
    int hi = -1;
    for (Py_ssize_t i = pos + 1; i < gt; i++) {
        int v = hexval(d[i]);
        if (v < 0)
            continue;
        if (hi < 0) {
            hi = v;
        } else {
            if (bb_put(&b, (unsigned char)((hi << 4) | v))) {
                bb_free(&b);
                return NULL;
            }
            hi = -1;
        }
    }
    if (hi >= 0 && bb_put(&b, (unsigned char)(hi << 4))) {
        bb_free(&b);
        return NULL;
    }
    PyObject *r = PyBytes_FromStringAndSize((const char *)b.p, b.len);
    bb_free(&b);
    *end = gt + 1;
    return r;
}

/* number token per _NUMBER = [+-]?(\d+\.?\d*|\.\d+); returns token end or
 * pos when no match. *isfloat set when the token contains '.' */
static Py_ssize_t scan_number(const unsigned char *d, Py_ssize_t pos,
                              Py_ssize_t n, int *isfloat)
{
    Py_ssize_t start = pos;
    int digits = 0, dots = 0;
    if (pos < n && (d[pos] == '+' || d[pos] == '-'))
        pos++;
    while (pos < n) {
        unsigned char c = d[pos];
        if (c >= '0' && c <= '9') {
            digits++;
        } else if (c == '.') {
            if (dots)
                break;
            dots++;
        } else {
            break;
        }
        pos++;
    }
    if (!digits)
        return start;
    *isfloat = dots;
    return pos;
}

/* _REF_RE = (\d+)\s+(\d+)\s+R\b matched at pos; fills num/gen spans.
 * Returns the position after R, or -1 when there is no match. */
static Py_ssize_t match_ref(const unsigned char *d, Py_ssize_t pos,
                            Py_ssize_t n, Py_ssize_t *n1a, Py_ssize_t *n1b,
                            Py_ssize_t *n2a, Py_ssize_t *n2b)
{
    Py_ssize_t p = pos;
    *n1a = p;
    while (p < n && d[p] >= '0' && d[p] <= '9')
        p++;
    if (p == *n1a)
        return -1;
    *n1b = p;
    Py_ssize_t w = p;
    while (p < n && RE_WS[d[p]])
        p++;
    if (p == w)
        return -1;
    *n2a = p;
    while (p < n && d[p] >= '0' && d[p] <= '9')
        p++;
    if (p == *n2a)
        return -1;
    *n2b = p;
    w = p;
    while (p < n && RE_WS[d[p]])
        p++;
    if (p == w || p >= n || d[p] != 'R')
        return -1;
    p++;
    if (p < n) { /* \b: next char must not be a word char */
        unsigned char c = d[p];
        if ((c >= '0' && c <= '9') || (c >= 'A' && c <= 'Z') ||
            (c >= 'a' && c <= 'z') || c == '_')
            return -1;
    }
    return p;
}

static PyObject *long_from_span(const unsigned char *d, Py_ssize_t a,
                                Py_ssize_t b)
{
    char small[64];
    char *buf = small;
    Py_ssize_t len = b - a;
    if (len + 1 > (Py_ssize_t)sizeof(small)) {
        buf = PyMem_Malloc(len + 1);
        if (!buf)
            return PyErr_NoMemory();
    }
    memcpy(buf, d + a, len);
    buf[len] = 0;
    PyObject *r = PyLong_FromString(buf, NULL, 10);
    if (buf != small)
        PyMem_Free(buf);
    return r;
}

static PyObject *parse_obj(const unsigned char *d, Py_ssize_t n,
                           Py_ssize_t pos, int refs, int depth,
                           Py_ssize_t *end)
{
    if (depth > MAXDEPTH) {
        PyErr_SetString(PyExc_RecursionError, "object nesting too deep");
        return NULL;
    }
    pos = skip_ws(d, pos, n);
    if (pos >= n) {
        PyErr_SetString(PyExc_ValueError, "eof");
        return NULL;
    }
    unsigned char c = d[pos];
    if (c == '/') { /* name */
        Py_ssize_t a = pos + 1, p = a;
        while (p < n && !WS[d[p]] && !DELIM[d[p]])
            p++;
        PyObject *nm, *s;
        if (name_pair(d, a, p, &nm, &s) < 0)
            return NULL;
        Py_INCREF(nm);
        *end = p;
        return nm;
    }
    if (c == '(')
        return parse_literal(d, n, pos, end);
    if (c == '<') {
        if (pos + 1 < n && d[pos + 1] == '<') { /* dict */
            PyObject *dict = PyDict_New();
            if (!dict)
                return NULL;
            pos += 2;
            for (;;) {
                pos = skip_ws(d, pos, n);
                if (pos + 1 < n && d[pos] == '>' && d[pos + 1] == '>') {
                    *end = pos + 2;
                    return dict;
                }
                if (pos >= n) {
                    PyErr_SetString(PyExc_ValueError, "unterminated dict");
                    goto dfail;
                }
                if (d[pos] != '/') {
                    /* the Python original parses the key object and then
                     * rejects non-Name keys; malformed keys may also
                     * raise their own ValueError — either way the byte
                     * stream is rejected from this position */
                    PyObject *k = parse_obj(d, n, pos, refs, depth + 1,
                                            &pos);
                    if (!k)
                        goto dfail;
                    Py_DECREF(k);
                    PyErr_SetString(PyExc_ValueError,
                                    "dict key is not a name");
                    goto dfail;
                }
                Py_ssize_t a = pos + 1, p = a;
                while (p < n && !WS[d[p]] && !DELIM[d[p]])
                    p++;
                PyObject *nm, *key;
                if (name_pair(d, a, p, &nm, &key) < 0)
                    goto dfail;
                Py_INCREF(key);
                pos = p;
                PyObject *val = parse_obj(d, n, pos, refs, depth + 1, &pos);
                if (!val) {
                    Py_DECREF(key);
                    goto dfail;
                }
                int rc = PyDict_SetItem(dict, key, val);
                Py_DECREF(key);
                Py_DECREF(val);
                if (rc < 0)
                    goto dfail;
            }
        dfail:
            Py_DECREF(dict);
            return NULL;
        }
        return parse_hex(d, n, pos, end);
    }
    if (c == '[') { /* array */
        PyObject *list = PyList_New(0);
        if (!list)
            return NULL;
        pos++;
        for (;;) {
            pos = skip_ws(d, pos, n);
            if (pos >= n) {
                PyErr_SetString(PyExc_ValueError, "unterminated array");
                Py_DECREF(list);
                return NULL;
            }
            if (d[pos] == ']') {
                *end = pos + 1;
                return list;
            }
            PyObject *el = parse_obj(d, n, pos, refs, depth + 1, &pos);
            if (!el || PyList_Append(list, el) < 0) {
                Py_XDECREF(el);
                Py_DECREF(list);
                return NULL;
            }
            Py_DECREF(el);
        }
    }
    if (c == 't' && pos + 4 <= n && memcmp(d + pos, "true", 4) == 0) {
        *end = pos + 4;
        Py_RETURN_TRUE;
    }
    if (c == 'f' && pos + 5 <= n && memcmp(d + pos, "false", 5) == 0) {
        *end = pos + 5;
        Py_RETURN_FALSE;
    }
    if (c == 'n' && pos + 4 <= n && memcmp(d + pos, "null", 4) == 0) {
        *end = pos + 4;
        Py_RETURN_NONE;
    }
    int isfloat = 0;
    Py_ssize_t tend = scan_number(d, pos, n, &isfloat);
    if (tend > pos) {
        if (refs && !isfloat && d[pos] != '+' && d[pos] != '-') {
            Py_ssize_t a1, b1, a2, b2;
            Py_ssize_t rend = match_ref(d, pos, n, &a1, &b1, &a2, &b2);
            if (rend >= 0) {
                PyObject *num = long_from_span(d, a1, b1);
                PyObject *gen = num ? long_from_span(d, a2, b2) : NULL;
                PyObject *ref =
                    gen ? PyObject_CallFunctionObjArgs(g_ref_cls, num, gen,
                                                       NULL)
                        : NULL;
                Py_XDECREF(num);
                Py_XDECREF(gen);
                if (!ref)
                    return NULL;
                *end = rend;
                return ref;
            }
        }
        if (isfloat) {
            char buf[64];
            Py_ssize_t len = tend - pos;
            PyObject *r;
            if (len < (Py_ssize_t)sizeof(buf)) {
                memcpy(buf, d + pos, len);
                buf[len] = 0;
                double v = PyOS_string_to_double(buf, NULL, NULL);
                if (v == -1.0 && PyErr_Occurred())
                    return NULL;
                r = PyFloat_FromDouble(v);
            } else { /* absurdly long numeral: defer to Python float() */
                PyObject *s = PyUnicode_DecodeLatin1((const char *)d + pos,
                                                     len, NULL);
                if (!s)
                    return NULL;
                r = PyFloat_FromString(s);
                Py_DECREF(s);
            }
            *end = tend;
            return r;
        }
        PyObject *r = long_from_span(d, pos, tend);
        *end = tend;
        return r;
    }
    PyErr_Format(PyExc_ValueError, "unexpected byte 0x%x at %zd",
                 (unsigned int)c, pos);
    return NULL;
}

static PyObject *cobj_parse_object(PyObject *self, PyObject *args,
                                   PyObject *kwargs)
{
    static char *kwlist[] = {"data", "pos", "refs", NULL};
    Py_buffer view;
    Py_ssize_t pos = 0;
    int refs = 1;
    if (!PyArg_ParseTupleAndKeywords(args, kwargs, "y*n|p", kwlist, &view,
                                     &pos, &refs))
        return NULL;
    if (!g_name_cls || !g_ref_cls) {
        PyBuffer_Release(&view);
        PyErr_SetString(PyExc_RuntimeError, "configure(Name, Ref) first");
        return NULL;
    }
    if (pos < 0)
        pos = 0;
    Py_ssize_t end = pos;
    PyObject *obj = parse_obj((const unsigned char *)view.buf, view.len,
                              pos, refs, 0, &end);
    PyBuffer_Release(&view);
    if (!obj)
        return NULL;
    PyObject *r = Py_BuildValue("(Nn)", obj, end);
    return r;
}

static PyObject *cobj_configure(PyObject *self, PyObject *args)
{
    PyObject *name_cls, *ref_cls;
    if (!PyArg_ParseTuple(args, "OO", &name_cls, &ref_cls))
        return NULL;
    Py_XINCREF(name_cls);
    Py_XINCREF(ref_cls);
    Py_XDECREF(g_name_cls);
    Py_XDECREF(g_ref_cls);
    g_name_cls = name_cls;
    g_ref_cls = ref_cls;
    /* the name cache holds instances of the previous classes */
    for (int i = 0; i < NCACHE; i++) {
        if (ncache[i].name) {
            PyMem_Free(ncache[i].key);
            Py_CLEAR(ncache[i].name);
            Py_CLEAR(ncache[i].str);
            ncache[i].key = NULL;
            ncache[i].len = 0;
        }
    }
    Py_RETURN_NONE;
}

static PyMethodDef cobj_methods[] = {
    {"parse_object", (PyCFunction)(void (*)(void))cobj_parse_object,
     METH_VARARGS | METH_KEYWORDS,
     "parse_object(data, pos, refs=True) -> (obj, next_pos)"},
    {"configure", cobj_configure, METH_VARARGS,
     "configure(Name, Ref): set the PDF name/ref classes"},
    {NULL, NULL, 0, NULL},
};

static struct PyModuleDef cobj_module = {
    PyModuleDef_HEAD_INIT, "_pdf_parse_cobj",
    "C object-structure parser for pdf_parse_new_spark", -1, cobj_methods,
};

PyMODINIT_FUNC PyInit__pdf_parse_cobj(void)
{
    return PyModule_Create(&cobj_module);
}
