"""Differential testing vs the LIVE reference.

Seeded synthetic PDFs exercising the text-assembly decision space
(letter-spacing, Tm-scale sub/superscripts, TJ kern tightening, trailing
space glyphs, font switches, Td/TD/T*/'/", hex strings) run through BOTH
engines — node executing the actual reference (lib/pdf-parse.js over its
bundled pdf.js) and our parser — and every output must be BYTE-EQUAL.

This pins the whole two-stage assembly model empirically rather than
case-by-case; any divergence names the fixture that produced it.
Env-gated: skipped when node or the reference checkout is absent.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess

import pytest

from pdf_parse_new_spark.kernels import pdfb

REF = "/root/reference/index.js"

pytestmark = pytest.mark.skipif(
    shutil.which("node") is None or not os.path.exists(REF),
    reason="live-reference differential needs node + /root/reference",
)

WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
    "nu xi omicron pi rho sigma tau upsilon phi chi psi omega".split()
)


def _assemble(content: bytes) -> bytes:
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 4 0 R /F2 5 0 R >> >> "
        b"/Contents 6 0 R >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Times-Roman >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, o)
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offs:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1,
        xref,
    )
    return bytes(out)


def _gen_stream(rng: random.Random) -> bytes:
    """One BT..ET block of seeded operator soup over the assembly
    decision space. Numbers are fixed-point (the content grammar has no
    exponents)."""
    ops = [b"BT"]
    font = rng.choice([b"/F1", b"/F2"])
    size = rng.choice([1, 8, 10, 12])
    scale = rng.choice([1.0, 6.22, 8.0, 10.0]) if size == 1 else 1.0
    ops.append(b"%s %d Tf" % (font, size))
    y = 700.0
    x = 72.0
    for _ in range(rng.randrange(6, 14)):
        kind = rng.randrange(8)
        if kind == 0:  # new line via Tm, maybe new scale (subscripts)
            dy = rng.choice([1.3, 2.0, 11.0, 14.0])
            y -= dy
            x = rng.choice([72.0, x + rng.choice([-2.0, 0.5, 3.0, 9.0])])
            scale2 = rng.choice([scale, 6.22, 8.0]) if size == 1 else 1.0
            scale = scale2
            ops.append(
                b"%.2f 0 0 %.2f %.2f %.2f Tm" % (scale, scale, x, y)
            )
        elif kind == 1:  # Td relative move
            ops.append(b"%.2f %.2f Td" % (rng.choice([0.0, 4.0, 30.0]),
                                          rng.choice([0.0, -11.0, -1.4])))
        elif kind == 2:  # spacing state
            ops.append(b"%.2f Tc" % rng.choice([0.0, 0.05, 1.5]))
            ops.append(b"%.2f Tw" % rng.choice([0.0, 0.4]))
        elif kind == 3:  # font switch (flush)
            font = rng.choice([b"/F1", b"/F2"])
            ops.append(b"%s %d Tf" % (font, size))
        elif kind == 4:  # TJ with kerns, maybe trailing-space tighten
            parts = []
            for _ in range(rng.randrange(1, 4)):
                w = " ".join(rng.sample(WORDS, rng.randrange(1, 3)))
                if rng.random() < 0.4:
                    w += " "
                parts.append(b"(%s)" % w.encode())
                parts.append(b"%d" % rng.choice([-300, -120, -80, 120, 567]))
            ops.append(b"[" + b" ".join(parts[:-1]) + b"] TJ")
        elif kind == 5:  # plain Tj, hex half the time
            w = " ".join(rng.sample(WORDS, rng.randrange(1, 4)))
            if rng.random() < 0.5:
                ops.append(b"<%s> Tj" % w.encode().hex().encode())
            else:
                ops.append(b"(%s) Tj" % w.encode())
        elif kind == 6:  # leading + T* / quote
            ops.append(b"%.1f TL" % rng.choice([11.0, 12.5]))
            if rng.random() < 0.5:
                ops.append(b"T*")
                ops.append(b"(%s) Tj" % rng.choice(WORDS).encode())
            else:
                ops.append(b"(%s) '" % rng.choice(WORDS).encode())
        else:  # whitespace-heavy item
            ops.append(b"(  %s   ) Tj" % rng.choice(WORDS).encode())
    ops.append(b"ET")
    if rng.random() < 0.4:  # a second BT block, maybe cm-translated
        tail = [b"q", b"1 0 0 1 %.1f %.1f cm" % (rng.choice([0.0, 50.0]),
                                                 rng.choice([0.0, -30.0])),
                b"BT", b"/F1 %d Tf" % rng.choice([9, 11]),
                b"1 0 0 1 72 %.1f Tm" % rng.choice([320.0, 640.0]),
                b"%.2f Tz" % rng.choice([100.0, 80.0, 120.0]),
                b"(%s) Tj" % " ".join(rng.sample(WORDS, 3)).encode(),
                b"%.1f Ts (%s) Tj 0 Ts" % (rng.choice([3.0, -2.5]),
                                           rng.choice(WORDS).encode()),
                b"(%s) Tj" % rng.choice(WORDS).encode(),
                b"ET", b"Q"]
        ops.extend(tail)
    return b"\n".join(ops)


def _run_differential(tmp_path, pdfs: list[bytes]) -> None:
    paths = []
    for i, pdf in enumerate(pdfs):
        p = tmp_path / f"doc{i:02d}.pdf"
        p.write_bytes(pdf)
        paths.append(str(p))

    harness = tmp_path / "run.js"
    harness.write_text(
        """
const fs = require("fs");
const pdfParse = require(%s);
(async () => {
  const out = {};
  for (const p of process.argv.slice(2)) {
    try { out[p] = (await pdfParse(fs.readFileSync(p))).text; }
    catch (e) { out[p] = "<<ERR>> " + e.message; }
  }
  console.log(JSON.stringify(out));
})();
"""
        % json.dumps(REF)
    )
    res = subprocess.run(
        ["node", str(harness), *paths],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-500:]
    golden = json.loads(res.stdout.strip().splitlines()[-1])

    diverged = []
    for p in paths:
        ours = pdfb.parse_pdf_bytes(open(p, "rb").read())["text"]
        ref = golden[p]
        assert not ref.startswith("<<ERR>>"), (p, ref)
        if ours != ref:
            diverged.append((os.path.basename(p), ref, ours))
    assert not diverged, "\n".join(
        f"{name}: ref={ref!r} ours={ours!r}" for name, ref, ours in diverged[:5]
    )


def test_seeded_streams_byte_equal_vs_live_reference(tmp_path):
    _run_differential(
        tmp_path,
        [_assemble(_gen_stream(random.Random(1000 + s))) for s in range(24)],
    )


def _gen_flush_scale_stream(rng: random.Random) -> bytes:
    """Stress the updateAdvanceScale initialized-guard: pdf.js ignores a
    Tm horizontal-scale change while no item is open (its
    updateAdvanceScale early-returns when !textContentItem.initialized),
    so `show, Tf-flush, Tm-scale, show` must NOT take the zero-width
    standalone-space path — while `show, Tm-scale, show` (item open)
    must. Interleaves both orders with same-font Tf no-ops and T*/Td
    moves at sub/superscript scales (the 02-valid residue pattern)."""
    ops = [b"BT", b"/F1 1 Tf", b"10.0 0 0 10.0 72 700 Tm"]
    scale = 10.0
    y = 700.0
    x = 72.0
    for _ in range(rng.randrange(8, 16)):
        kind = rng.randrange(6)
        if kind == 0:  # glyphs
            w = " ".join(rng.sample(WORDS, rng.randrange(1, 3)))
            ops.append(b"(%s) Tj" % w.encode())
        elif kind == 1:  # Tf flush THEN scale change (guard must hold)
            font = rng.choice([b"/F1", b"/F2"])
            ops.append(b"%s 1 Tf" % font)
            scale = rng.choice([6.22, 8.0, 10.0])
            x += rng.choice([0.5, 3.0, 8.0])
            y -= rng.choice([0.0, 1.3, 2.0])
            ops.append(b"%.2f 0 0 %.2f %.2f %.2f Tm" % (scale, scale, x, y))
            ops.append(b"(%s) Tj" % rng.choice(WORDS).encode())
        elif kind == 2:  # scale change on an OPEN item (flush must fire)
            ops.append(b"(%s) Tj" % rng.choice(WORDS).encode())
            scale = rng.choice([6.22, 8.0, 10.0])
            x += rng.choice([-2.0, 0.5, 3.0])
            ops.append(b"%.2f 0 0 %.2f %.2f %.2f Tm" % (scale, scale, x, y))
            ops.append(b"(%s) Tj" % rng.choice(WORDS).encode())
        elif kind == 3:  # same-font Tf (pdf.js may skip the flush)
            ops.append(b"/F1 1 Tf")
            ops.append(b"(%s) Tj" % rng.choice(WORDS).encode())
        elif kind == 4:  # newline then immediate scale change
            y -= rng.choice([11.0, 14.0])
            x = 72.0
            ops.append(b"%.2f 0 0 %.2f %.2f %.2f Tm" % (scale, scale, x, y))
        else:  # TJ with kern at the current scale
            a, b = rng.sample(WORDS, 2)
            ops.append(
                b"[(%s ) %d (%s)] TJ"
                % (a.encode(), rng.choice([-300, 120, 567]), b.encode())
            )
    ops.append(b"ET")
    return b"\n".join(ops)


def test_flush_scale_streams_byte_equal_vs_live_reference(tmp_path):
    _run_differential(
        tmp_path,
        [
            _assemble(_gen_flush_scale_stream(random.Random(7000 + s)))
            for s in range(24)
        ],
    )


def _gen_rise_space_stream(rng: random.Random) -> bytes:
    """Per-glyph item splitting at quadrant 0 (the round-3 VERDICT's
    last known divergence class, now closed by the C replay's SegRec
    machinery; jsvm compares per glyph): mid-line Ts toggles x multi-space /
    letter-spaced / negative-Tc/Tw items x TJ runs crossing element
    boundaries. Out-of-window internal space runs must split the item —
    notASpace kills the run, shouldAddWhitepsace and spaceInFlowMax
    push a standalone " " anchored at the PREVIOUS glyph's rise-bearing
    transform — and the pdf-parse anchor join then places "\\n"s the
    old inline model could not reproduce."""
    ops = [b"BT", b"/F1 10 Tf", b"1 0 0 1 72 700 Tm"]
    for _ in range(rng.randrange(5, 12)):
        kind = rng.randrange(7)
        if kind == 0:  # mid-line rise toggle
            ops.append(
                b"%.1f Ts" % rng.choice([3.0, -2.5, 5.0, 1.2, 0.9, 0.0])
            )
        elif kind == 1:  # letter-spacing incl. negative + spaced item
            ops.append(
                b"%.2f Tc"
                % rng.choice([0.0, 0.5, 1.5, 2.5, 3.5, -2.4, 8.0])
            )
            n1, n2 = rng.randrange(0, 4), rng.randrange(0, 4)
            ops.append(
                b"(%s%s%s%s) Tj"
                % (b" " * n1, rng.choice(WORDS).encode(), b" " * n2,
                   rng.choice([b"x", b""]))
            )
        elif kind == 2:  # word spacing incl. space-killing negatives
            ops.append(b"%.2f Tw" % rng.choice([0.0, 0.4, -2.6, 1.8, 5.0]))
            ops.append(
                b"( %s   %s ) Tj"
                % (rng.choice(WORDS).encode(), rng.choice(WORDS).encode())
            )
        elif kind == 3:
            ops.append(b"(%s) Tj" % rng.choice(WORDS).encode())
        elif kind == 4:  # TJ: runs crossing elements, huge kerns
            a, b = rng.sample(WORDS, 2)
            ops.append(
                b"[(%s  ) %d ( %s) %d (  %s)] TJ"
                % (a.encode(),
                   rng.choice([-300, -120, 120, 567, 2000, -8000]),
                   b.encode(), rng.choice([-300, 120]),
                   rng.choice(WORDS).encode())
            )
        elif kind == 5:  # sub-tolerance y drift (anchor-sensitive)
            ops.append(
                b"1 0 0 1 72 %.1f Tm" % (700 - rng.randrange(1, 40) * 0.7)
            )
        else:
            ops.append(b"14 TL (a   b) '")
    ops.append(b"ET")
    return b"\n".join(ops)


def test_rise_space_split_streams_byte_equal_vs_live_reference(tmp_path):
    _run_differential(
        tmp_path,
        [
            _assemble(_gen_rise_space_stream(random.Random(90000 + s)))
            for s in range(60)
        ],
    )


_QUADS = ((1, 0, 0, 1), (0, 1, -1, 0), (-1, 0, 0, -1), (0, -1, 1, 0))


def _gen_rotated_stream(rng: random.Random) -> bytes:
    """Rotation-quadrant fuzz: random 0/90/180/270 text matrices with
    inter-item moves along the ROTATED writing axis, TJ kerns, and Td
    moves. pdf.js swaps/negates device axes per quadrant before the
    flush/space compare (compareWithLastPosition,
    pdf.worker.js:36551-36565) and pdf-parse's "\\n" join then reads the
    raw device transform[5] anchors — so rotated lines split per ITEM
    and mid-TJ kern flushes become visible newlines (the quad-0 buffered
    TJ model would hide them behind one anchor)."""
    ops = [b"BT", b"/F1 %d Tf" % rng.choice([8, 10, 12])]
    quad = rng.choice(_QUADS)
    u, v = 300.0, 300.0
    for _ in range(rng.randrange(5, 12)):
        kind = rng.randrange(5)
        if kind == 0:  # new anchor, maybe new quadrant / scale
            quad = rng.choice(_QUADS)
            u += rng.choice([-14.0, 0.0, 14.0])
            v += rng.choice([-14.0, 0.0, 14.0])
            a, b, c, d = quad
            s = rng.choice([1.0, 1.0, 0.75])
            ops.append(
                b"%.2f %.2f %.2f %.2f %.1f %.1f Tm"
                % (a * s, b * s, c * s, d * s, u, v)
            )
        elif kind == 1:
            w = " ".join(rng.sample(WORDS, rng.randrange(1, 3)))
            ops.append(b"(%s) Tj" % w.encode())
        elif kind == 2:  # small move along the rotated writing axis
            a, b, c, d = quad
            du = rng.choice([0.8, 2.0, 5.0, 40.0])
            dv = rng.choice([0.0, 1.1, 13.0])
            u += du * a + dv * c
            v += du * b + dv * d
            ops.append(
                b"%.2f %.2f %.2f %.2f %.1f %.1f Tm" % (a, b, c, d, u, v)
            )
            ops.append(b"(%s) Tj" % rng.choice(WORDS).encode())
        elif kind == 3:  # TJ kern (mid-TJ flush under rotation)
            ops.append(
                b"[(%s ) %d (%s)] TJ"
                % (
                    rng.choice(WORDS).encode(),
                    rng.choice([-300, 120, 567]),
                    rng.choice(WORDS).encode(),
                )
            )
        else:
            ops.append(
                b"%.1f %.1f Td"
                % (rng.choice([0.0, 4.0, 30.0]), rng.choice([0.0, -13.0]))
            )
            ops.append(b"(%s) Tj" % rng.choice(WORDS).encode())
    ops.append(b"ET")
    return b"\n".join(ops)


def test_rotated_streams_byte_equal_vs_live_reference(tmp_path):
    _run_differential(
        tmp_path,
        [
            _assemble(_gen_rotated_stream(random.Random(3000 + s)))
            for s in range(60)
        ],
    )


def _gen_skew_stream(rng: random.Random) -> bytes:
    """Arbitrary-rotation/shear fuzz (pdf.js rotate == -1): matrices
    with nonzero b or c that are NOT quadrant rotations — sheared text,
    de-skewed scans. pdf.js compares each point in the inverse-rotated
    frame of its OWN matrix (applyInverseRotation,
    pdf.worker.js:36521-36524,36566-36567); the engine mirrors that via
    the row-normalized composed 2x2 carried on prevTransform."""
    ops = [b"BT", b"/F1 10 Tf"]
    u, v = 100.0, 600.0
    mats = [
        (1, 0.3, 0, 1), (1, 0, 0.25, 1),
        (1, -0.2, 0.1, 1), (0.9, 0.4, -0.3, 0.95),
    ]
    m = rng.choice(mats)
    for _ in range(rng.randrange(5, 10)):
        kind = rng.randrange(4)
        if kind == 0:
            m = rng.choice(mats)
            u += rng.choice([0.0, 20.0])
            v -= rng.choice([0.0, 13.0, 2.0])
            a, b, c, d = m
            ops.append(
                b"%.2f %.2f %.2f %.2f %.1f %.1f Tm" % (a, b, c, d, u, v)
            )
        elif kind == 1:
            ops.append(
                b"(%s) Tj"
                % " ".join(rng.sample(WORDS, rng.randrange(1, 3))).encode()
            )
        elif kind == 2:  # move along the sheared writing direction
            a, b, c, d = m
            du = rng.choice([0.8, 3.0, 9.0])
            u += du * a
            v += du * b
            ops.append(
                b"%.2f %.2f %.2f %.2f %.1f %.1f Tm" % (a, b, c, d, u, v)
            )
            ops.append(b"(%s) Tj" % rng.choice(WORDS).encode())
        else:
            ops.append(
                b"[(%s ) %d (%s)] TJ"
                % (
                    rng.choice(WORDS).encode(),
                    rng.choice([-300, 120, 567]),
                    rng.choice(WORDS).encode(),
                )
            )
    ops.append(b"ET")
    return b"\n".join(ops)


def test_skew_streams_byte_equal_vs_live_reference(tmp_path):
    _run_differential(
        tmp_path,
        [
            _assemble(_gen_skew_stream(random.Random(5000 + s)))
            for s in range(40)
        ],
    )


def _gen_rotated_state_stream(rng: random.Random) -> bytes:
    """Rotation x text-state fuzz: quadrant changes interleaved with
    letter-spacing (Tc — per-glyph fake spaces and standalone
    whitespace items become visible lines under rotation), word spacing
    (Tw), horizontal scaling (Tz) and leading (TL/T*). Covered by the
    per-glyph show path for rotated 1-byte items plus the notASpace
    pending-space reset. Mid-line Ts (rise) toggles are included since
    round 4: the rise offset is recomputed under every matrix change
    (pdf.js applies rise through tsm at each glyph), which closed the
    rotated-rise residual this generator previously excluded."""
    ops = [b"BT", b"/F1 %d Tf" % rng.choice([8, 10, 12])]
    quad = rng.choice(_QUADS)
    u, v = 300.0, 400.0
    for _ in range(rng.randrange(6, 14)):
        kind = rng.randrange(8)
        if kind == 7:  # mid-line rise toggle
            ops.append(b"%.1f Ts" % rng.choice([3.0, -2.5, 1.2, 0.0]))
            ops.append(
                b"(%s   %s) Tj"
                % (rng.choice(WORDS).encode(), rng.choice(WORDS).encode())
            )
            continue
        if kind == 0:
            quad = rng.choice(_QUADS)
            u += rng.choice([-14.0, 0.0, 14.0])
            v += rng.choice([-14.0, 0.0, 14.0])
            a, b, c, d = quad
            s = rng.choice([1.0, 1.0, 0.75])
            ops.append(
                b"%.2f %.2f %.2f %.2f %.1f %.1f Tm"
                % (a * s, b * s, c * s, d * s, u, v)
            )
        elif kind == 1:
            ops.append(
                b"(%s) Tj"
                % " ".join(rng.sample(WORDS, rng.randrange(1, 3))).encode()
            )
        elif kind == 2:
            a, b, c, d = quad
            du = rng.choice([0.8, 2.0, 5.0, 40.0])
            dv = rng.choice([0.0, 1.1, 13.0])
            u += du * a + dv * c
            v += du * b + dv * d
            ops.append(
                b"%.2f %.2f %.2f %.2f %.1f %.1f Tm" % (a, b, c, d, u, v)
            )
            ops.append(b"(%s) Tj" % rng.choice(WORDS).encode())
        elif kind == 3:
            ops.append(
                b"[(%s ) %d (%s)] TJ"
                % (
                    rng.choice(WORDS).encode(),
                    rng.choice([-300, 120, 567]),
                    rng.choice(WORDS).encode(),
                )
            )
        elif kind == 4:  # letter/word spacing + double-space item
            ops.append(b"%.2f Tc" % rng.choice([0.0, 0.05, 1.5]))
            ops.append(b"%.2f Tw" % rng.choice([0.0, 0.4]))
            ops.append(b"(%s  x) Tj" % rng.choice(WORDS).encode())
        elif kind == 5:  # horizontal scaling
            ops.append(b"%.1f Tz" % rng.choice([100.0, 80.0, 120.0]))
            ops.append(b"(%s) Tj" % rng.choice(WORDS).encode())
        else:
            ops.append(b"%.1f TL" % rng.choice([11.0, 12.5]))
            ops.append(b"T*")
            ops.append(b"(%s) Tj" % rng.choice(WORDS).encode())
    ops.append(b"ET")
    return b"\n".join(ops)


def test_rotated_state_streams_byte_equal_vs_live_reference(tmp_path):
    _run_differential(
        tmp_path,
        [
            _assemble(_gen_rotated_state_stream(random.Random(11000 + s)))
            for s in range(60)
        ],
    )


def _assemble_with_form(form_matrix: bytes, outer_ops: bytes,
                        form_ops: bytes,
                        form2: tuple[bytes, bytes] | None = None) -> bytes:
    """One-page doc with a Form XObject /Fm; optional second form /Fm2
    (matrix, ops) — /Fm's body may invoke `/Fm2 Do` (forms without
    /Resources inherit the page's, so the nested name resolves)."""
    form = (
        b"<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] %s "
        b"/Length %d >>\nstream\n%s\nendstream"
        % (form_matrix, len(form_ops), form_ops)
    )
    xobjs = b"/Fm 5 0 R" + (b" /Fm2 7 0 R" if form2 is not None else b"")
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 4 0 R >> /XObject << %s >> >> "
        b"/Contents 6 0 R >>" % xobjs,
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        form,
        b"<< /Length %d >>\nstream\n%s\nendstream"
        % (len(outer_ops), outer_ops),
    ]
    if form2 is not None:
        m2, ops2 = form2
        objs.append(
            b"<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] %s "
            b"/Length %d >>\nstream\n%s\nendstream"
            % (m2, len(ops2), ops2)
        )
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, o)
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offs:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref)
    )
    return bytes(out)


def test_wide_sweep_byte_equal_vs_live_reference(tmp_path):
    """A wider cross-generator sweep at the seed ranges that exposed
    five distinct assembly bugs during the round-3 differential hunt
    (first-non-space-glyph compare position, textOrientation-0
    zero-advance item continuation, the rotation-naive glyphWidth
    box test, text-space vs device glyph width in that test, and the
    cross-axis item height for EOL thresholds). 60 docs per generator
    — the full hunt ran 6,700 docs at these and neighbouring seeds
    with zero divergence."""
    docs = []
    for gen, base in (
        (_gen_stream, 800000),
        (_gen_flush_scale_stream, 810000),
        (_gen_rotated_stream, 820000),
        (_gen_skew_stream, 830000),
        (_gen_rotated_state_stream, 840000),
    ):
        docs.extend(
            _assemble(gen(random.Random(base + s))) for s in range(60)
        )
    _run_differential(tmp_path, docs)


def test_rotation_through_forms_byte_equal_vs_live_reference(tmp_path):
    """Rotation entering through the Form-XObject /Matrix, an outer
    rotated cm around Do, and a 45-degree (rotate == -1) q/Q mid-text
    block — exercises the rotation defer through the nested
    interpreter runs (the form /Matrix and outer CTM arrive as a
    prepended cm, so the defer fires inside the nested stream)."""
    _run_differential(
        tmp_path,
        [
            _assemble_with_form(
                b"/Matrix [0 1 -1 0 400 100]",
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (before form) Tj ET "
                b"/Fm Do BT /F1 12 Tf 1 0 0 1 72 686 Tm (after form) Tj ET",
                b"BT /F1 10 Tf 1 0 0 1 50 50 Tm (inside rotated) Tj "
                b"1 0 0 1 50 64 Tm (second line) Tj ET",
            ),
            _assemble_with_form(
                b"",
                b"q 0 1 -1 0 500 100 cm BT /F1 12 Tf 1 0 0 1 50 50 Tm "
                b"(rotated outer) Tj ET /Fm Do Q "
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (back) Tj ET",
                b"BT /F1 10 Tf 1 0 0 1 10 80 Tm (form under rot cm) Tj ET",
            ),
            _assemble_with_form(
                b"/Matrix [1 0 0 1 0 0]",
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (plain) Tj ET "
                b"q 0.7071 0.7071 -0.7071 0.7071 200 100 cm "
                b"BT /F1 12 Tf 1 0 0 1 0 0 Tm (angled 45) Tj ET Q "
                b"BT /F1 12 Tf 1 0 0 1 72 660 Tm (restored) Tj ET",
                b"",
            ),
        ],
    )


def _gen_tj_coalesce_stream(rng: random.Random) -> bytes:
    """TJ element-boundary coalescing (pdf.worker.js:36890-36909): pdf.js
    joins adjacent TJ string elements into ONE chars string
    (showSpacedTextBuffer.join("")) and skips zero kerns (``item !== 0``),
    so ``[(a)(b)] TJ`` and ``[(a) 0 (b)] TJ`` are plain glyph adjacency;
    CONSECUTIVE nonzero kerns merge into a single translate evaluated at
    the next group's first glyph, and every kern processed with an EMPTY
    buffer applies charSpacing in addition to the kern (the !chars branch,
    pdf.worker.js:36663-36675). Stresses: adjacent strings, zero kerns,
    kern runs, leading/trailing kerns, empty () elements, hex elements,
    space runs straddling element boundaries, under nonzero Tc/Tw."""
    ops = [b"BT", b"/F1 %d Tf" % rng.choice([8, 10, 12])]
    ops.append(b"1 0 0 1 72 700 Tm")
    kerns = [-8000, -2000, -567, -300, -120, -80, -15, 0, 15, 80,
             120, 200, 350, 2000]
    for line in range(rng.randrange(5, 11)):
        if rng.randrange(3) == 0:
            ops.append(b"%.2f Tc" % rng.choice([0.0, 0.5, 1.5, 2.5, -2.4]))
        if rng.randrange(4) == 0:
            ops.append(b"%.2f Tw" % rng.choice([0.0, 0.4, 1.8, -2.6]))
        parts = []
        n_el = rng.randrange(2, 8)
        for _ in range(n_el):
            r = rng.randrange(10)
            if r < 4:  # string element, padded with boundary spaces
                w = rng.choice(WORDS).encode()
                parts.append(
                    b"(%s%s%s)"
                    % (b" " * rng.randrange(0, 3), w,
                       b" " * rng.randrange(0, 3))
                )
            elif r == 4:  # empty string element
                parts.append(b"()")
            elif r == 5:  # hex element
                parts.append(
                    b"<%s>" % rng.choice(WORDS)[:3].encode().hex().encode()
                )
            elif r < 9:  # kern (zero included -> skipped by pdf.js)
                parts.append(b"%d" % rng.choice(kerns))
            else:  # kern RUN (consecutive kerns must merge)
                parts.append(
                    b"%d %d" % (rng.choice(kerns), rng.choice(kerns))
                )
        ops.append(b"[%s] TJ" % b" ".join(parts))
        ops.append(b"1 0 0 1 72 %d Tm" % (700 - 14 * (line + 1)))
    ops.append(b"ET")
    return b"\n".join(ops)


def test_tj_coalesce_streams_byte_equal_vs_live_reference(tmp_path):
    _run_differential(
        tmp_path,
        [
            _assemble(_gen_tj_coalesce_stream(random.Random(170000 + s)))
            for s in range(60)
        ],
    )


# seeds that each exposed a distinct boundary-decision divergence during
# the round-4 hunt (3,000 docs): kern-after-multi-space band decisions,
# empty-() kerns missing their !chars charSpacing, letter-gap join
# spaces contaminating the trailing-run count, the killed-run ring
# carry ([' ',' '] suppressing later pend1 spaces), real glyphs ahead
# of a split dropping that carry, and the deferred kern fake space
# under negative Tw. All fixed; pinned here against regression.
TJ_KILLER_SEEDS = (
    170038, 200012, 200284, 200692, 200877,
    200883, 200944, 201432, 202633,
)


def test_tj_coalesce_killer_seeds_byte_equal_vs_live_reference(tmp_path):
    _run_differential(
        tmp_path,
        [
            _assemble(_gen_tj_coalesce_stream(random.Random(s)))
            for s in TJ_KILLER_SEEDS
        ],
    )


# ---------------------------------------------------------------------------
# round 4: big-Tc standalone splits x stale-rise anchors, clip-aware
# seg-splitting on view-box straddles, and pre-Tf show dropping
# ---------------------------------------------------------------------------

def _tc_knife_edge(stream: bytes) -> bool:
    """tc*|tz| within an ulp-scale band of the 0.6*fs spaceInFlowMax (or
    -0.2*fs negativeSpaceMax) boundary: pdf.js's own flush decision
    there depends on accumulated-position rounding (advanceX =
    (x + tc*hs) - x wobbles +/- ulp(x) across a ~4e-16 gap — verified
    live: `18 Tc 80 Tz /F2 24 Tf` decides the SAME 14.4 advance both
    ways within one stream depending on position magnitude), so
    byte-equality is not well-defined — the generators skip these.
    The horizontal scale participates because the boundary compare is
    tc * |tz|/100 vs 0.6 * fs (the 11.5M-seed hunt found the Tz-scaled
    edge the original tc/fs test missed)."""
    import re as _re

    tcs = [float(v) for v in _re.findall(rb"(-?[\d.]+) Tc", stream)]
    fss = [float(v) for v in _re.findall(rb"/F\d (\d+) Tf", stream)]
    tzs = [1.0] + [
        abs(float(v)) / 100.0 for v in _re.findall(rb"(-?[\d.]+) Tz", stream)
    ]
    return any(
        f > 0
        and (abs(t * z / f - 0.6) < 1e-9 or abs(t * z / f + 0.2) < 1e-9)
        for t in tcs
        for f in fss
        for z in tzs
    )


def _gen_bigtc_stream(rng: random.Random) -> bytes:
    """charSpacing past spaceInFlowMax (tc > 0.6*fs): pdf.js flushes and
    pushes a standalone " " anchored at prevTransform between EVERY
    glyph pair (pdf.worker.js:36641-36651). With mid-line Ts toggles the
    OPEN item keeps its first glyph's rise-anchored y (setTextRise never
    flushes), so the first big-Tc item boundary after the rise change
    exposes a y delta through pdf-parse's join — the round-3 residual
    divergence class."""
    while True:
        fs = rng.choice([8, 10, 12])
        ops = [b"BT", b"/F1 %d Tf" % fs, b"1 0 0 1 40 700 Tm"]
        tc_mult = rng.choice([0.55, 0.59, 0.605, 0.65, 0.8, 1.2, 2.5])
        ops.append(b"%.3f Tc" % (tc_mult * fs))
        if rng.randrange(3) == 0:
            ops.append(b"%.2f Tw" % rng.choice([0.0, 0.8, 2.0, -1.0]))
        if rng.randrange(3) == 0:
            ops.append(b"%.1f Tz" % rng.choice([80.0, 100.0, 120.0]))
        for i in range(rng.randrange(8, 24)):
            r = rng.randrange(10)
            if r < 4:
                ops.append(
                    b"(%s) Tj"
                    % rng.choice(WORDS)[: rng.randrange(1, 6)].encode()
                )
            elif r < 6:
                ops.append(
                    b"(%s %s) Tj"
                    % (rng.choice(WORDS)[:3].encode(),
                       rng.choice(WORDS)[:3].encode())
                )
            elif r == 6:
                ops.append(b"%.2f Ts" % rng.choice([1.5, -1.2, 0.0, 0.4]))
                ops.append(b"(%s) Tj" % rng.choice(WORDS)[:4].encode())
                if rng.randrange(2):
                    ops.append(b"0 Ts")
            elif r == 7:
                ops.append(
                    b"%.2f %.3f Td"
                    % (rng.uniform(0, 3), rng.uniform(-0.9, 0.9))
                )
            elif r == 8:
                parts = []
                for _ in range(rng.randrange(2, 6)):
                    if rng.randrange(2):
                        parts.append(
                            b"(%s)" % rng.choice(WORDS)[:3].encode()
                        )
                    else:
                        parts.append(
                            b"%d"
                            % rng.choice(
                                [-8000, -2000, -600, -80, 80, 700, 3000]
                            )
                        )
                ops.append(b"[%s] TJ" % b" ".join(parts))
            elif r == 9 and rng.randrange(2):
                ops.append(
                    b"%.3f Tc" % (rng.choice([0.3, 0.55, 0.7, 1.5]) * fs)
                )
            else:
                nfs = rng.choice([4, 6, 8, 14, 24, 40])
                ops.append(b"/F%d %d Tf" % (rng.choice([1, 2]), nfs))
                ops.append(b"(%s) Tj" % rng.choice(WORDS)[:4].encode())
            if rng.randrange(12) == 0:
                ops.append(b"1 0 0 1 40 %d Tm" % (700 - 20 * (i + 1)))
                ops.append(b"%.3f Tc" % (tc_mult * fs))
        ops.append(b"ET")
        stream = b"\n".join(ops)
        if not _tc_knife_edge(stream):
            return stream


def _gen_clipseg_stream(rng: random.Random) -> bytes:
    """Items straddling the view-box x edges: the box test sits at the
    TOP of compareWithLastPosition (pdf.worker.js:36529-36536) — a
    rejected glyph skips the whole flush/space cascade, advances by
    width only (no charSpacing), and never moves prevTransform — so
    seg-split decisions interleave with rejected glyphs. Knife-edge
    streams (tc * |tz| exactly on the 0.6/-0.2 * fs boundaries — e.g.
    tcm -0.25 with 80 Tz, hunt seed 18,080,051) regenerate: pdf.js's
    own decision there is position-ulp-dependent."""
    while True:
        stream = _gen_clipseg_stream_once(rng)
        if not _tc_knife_edge(stream):
            return stream


def _gen_clipseg_stream_once(rng: random.Random) -> bytes:
    fs = rng.choice([8, 10, 12, 24])
    x0 = rng.choice([520, 560, 590, 600, -30, -10, 5])
    ops = [b"BT", b"/F1 %d Tf" % fs, b"1 0 0 1 %d 700 Tm" % x0]
    tcm = rng.choice([0.0, 0.05, 0.2, 0.45, 0.65, 1.1, -0.25, -0.5])
    ops.append(b"%.3f Tc" % (tcm * fs))
    if rng.randrange(3) == 0:
        ops.append(b"%.2f Tw" % rng.choice([0.8, 2.0, -1.0, 6.0]))
    if rng.randrange(4) == 0:
        ops.append(b"%.1f Tz" % rng.choice([80.0, 120.0]))
    for _ in range(rng.randrange(4, 14)):
        r = rng.randrange(8)
        if r < 3:
            ws = [
                rng.choice(WORDS)[: rng.randrange(2, 5)]
                for _ in range(rng.randrange(1, 4))
            ]
            ops.append(b"(%s) Tj" % " ".join(ws).encode())
        elif r == 3:
            ops.append(b"%.2f Ts" % rng.choice([1.5, -1.2, 0.4, 0.0]))
        elif r == 4:
            ops.append(
                b"%.2f %.2f Td"
                % (rng.uniform(-60, 10), rng.uniform(-0.8, 0.8))
            )
        elif r == 5:
            parts = []
            for _ in range(rng.randrange(2, 5)):
                if rng.randrange(2):
                    parts.append(b"(%s)" % rng.choice(WORDS)[:4].encode())
                else:
                    parts.append(
                        b"%d" % rng.choice([-3000, -700, -80, 90, 1500])
                    )
            ops.append(b"[%s] TJ" % b" ".join(parts))
        elif r == 6:
            ops.append(
                b"%.3f Tc" % (rng.choice([0.05, 0.45, 0.7, -0.3]) * fs)
            )
        else:
            ops.append(
                b"( %s  %s ) Tj"
                % (rng.choice(WORDS)[:3].encode(),
                   rng.choice(WORDS)[:3].encode())
            )
    ops.append(b"ET")
    return b"\n".join(ops)


# pinned minimal reproducers (reduced from hunt seeds s510007/s500292):
# an item opened at rise 1.5 stays open through `0 Ts` (no flush), so
# the big-Tc standalone flush inside (ome bet) exposes the stale
# rise-anchored y -> REF breaks between 'o' and 'm'. The second variant
# adds (psi) so the final 't' is box-rejected at the page edge — the
# split machinery must keep working on actually-clipped items.
_BIGTC_RISE_PINNED = (
    b"BT\n/F1 10 Tf\n5.500 Tc\n[-8000 (the) -80] TJ\n1.50 Ts\n"
    b"(sigm) Tj\n(thet) Tj\n/F2 24 Tf\n(sigm) Tj\n(gam) Tj\n(sigm) Tj\n"
    b"0 Ts\n(mu) Tj\n15.000 Tc\n(ome bet) Tj\nET",
    b"BT\n/F1 10 Tf\n5.500 Tc\n[-8000 (the) -80] TJ\n1.50 Ts\n"
    b"(sigm) Tj\n(psi) Tj\n(thet) Tj\n/F2 24 Tf\n(sigm) Tj\n(gam) Tj\n"
    b"(sigm) Tj\n0 Ts\n(mu) Tj\n15.000 Tc\n(ome bet) Tj\nET",
)


def test_bigtc_rise_streams_byte_equal_vs_live_reference(tmp_path):
    _run_differential(
        tmp_path,
        [_assemble(s) for s in _BIGTC_RISE_PINNED]
        + [
            _assemble(_gen_bigtc_stream(random.Random(510000 + s)))
            for s in range(30)
        ],
    )


def test_clip_straddle_seg_streams_byte_equal_vs_live_reference(tmp_path):
    _run_differential(
        tmp_path,
        [
            _assemble(_gen_clipseg_stream(random.Random(600000 + s)))
            for s in range(30)
        ],
    )


# pre-Tf text-show ops are DROPPED — pdf.js's ensureStateFont bails out
# of Tj/TJ/'/" (including the quotes' side effects) until setFont ran
# (pdf.worker.js:36911-36943); verified against live node. The engine
# models fonts per stream, so the gate is stream-local.
_PRE_TF_STREAMS = (
    b"BT 1 0 0 1 72 700 Tm (dropped) Tj /F1 12 Tf (kept) Tj ET",
    b"BT 1 0 0 1 72 700 Tm [(dropped) -500 (too)] TJ "
    b"/F1 12 Tf [(kept) -500 (also)] TJ ET",
    b"BT 14 TL 1 0 0 1 72 700 Tm (dropped) ' /F1 12 Tf (kept) ' ET",
    b"BT 1 0 0 1 72 700 Tm 2 1 (dropped) \" /F1 12 Tf (kept) Tj ET",
    b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (all kept) Tj ET",
)


def test_pre_tf_shows_dropped_byte_equal_vs_live_reference(tmp_path):
    _run_differential(
        tmp_path, [_assemble(s) for s in _PRE_TF_STREAMS]
    )


def test_form_inherits_text_state_byte_equal_vs_live_reference(tmp_path):
    """pdf.js clones the eval state into a Form XObject run
    (paintXObject/stateManager), so a form showing text WITHOUT its own
    Tf keeps the page's font — and its charSpacing/wordSpacing/Tz. The
    engine prepends equivalent synthetic ops under a reserved resource
    name (_do_xobject inherit=...). Verified against live node."""
    _run_differential(
        tmp_path,
        [
            _assemble_with_form(
                b"",
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (page text) Tj ET /Fm Do",
                b"BT 1 0 0 1 72 650 Tm (inherited font text) Tj ET",
            ),
            _assemble_with_form(
                b"",
                b"/F1 12 Tf /Fm Do",
                b"BT 1 0 0 1 72 650 Tm (inherited only) Tj ET",
            ),
            _assemble_with_form(
                b"",
                b"/Fm Do",
                b"BT 1 0 0 1 72 650 Tm (never shown: no font anywhere) Tj ET",
            ),
            _assemble_with_form(
                b"",
                b"BT /F1 12 Tf 9 Tc 2 Tw 80 Tz 1 0 0 1 72 700 Tm (pg) Tj "
                b"ET /Fm Do",
                b"BT 1 0 0 1 72 650 Tm (spread out text inherits Tc Tw Tz)"
                b" Tj ET",
            ),
            _assemble_with_form(
                b"/Matrix [1 0 0 1 30 -40]",
                b"BT /F1 10 Tf 0.5 Tc 1 0 0 1 72 700 Tm (before) Tj ET "
                b"q 2 0 0 2 10 5 cm /Fm Do Q "
                b"BT /F1 10 Tf 1 0 0 1 72 600 Tm (after) Tj ET",
                b"BT 1 0 0 1 20 20 Tm (inherited under matrix) Tj ET",
            ),
        ],
    )


# --------------------------------------------------------------------
# Round-4 late additions: full text-STATE + text-MATRIX clone into Form
# XObjects, rise persistence across BT, and page-closure isolation.
# pdf.js clones the WHOLE eval state (paintXObject) and recurses
# getTextContent with a FRESH closure over the SAME sink; beginText
# resets only the matrices (textRise survives BT). All pinned against
# live node; the hunt behind these ran 1,400 seeded docs with zero
# divergence.
# --------------------------------------------------------------------

def test_rise_persists_across_bt_byte_equal_vs_live_reference(tmp_path):
    """pdf.js beginText resets the text/line matrices ONLY — textRise
    is text state and survives into the next BT block (a `30 Ts` set in
    one block still lifts the following block's glyphs onto the raised
    line). The engine used to reset rise at BT; this pins the fix."""
    _run_differential(
        tmp_path,
        [
            _assemble(
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (one) Tj 30 Ts (up) Tj"
                b" ET BT /F1 12 Tf 1 0 0 1 72 700 Tm (two) Tj ET"
            ),
            _assemble(
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (one) Tj 30 Ts (up) Tj"
                b" 0 Ts ET BT /F1 12 Tf 1 0 0 1 72 700 Tm (two) Tj ET"
            ),
            _assemble(
                b"BT /F1 10 Tf -8 Ts 1 0 0 1 72 700 Tm (sub) Tj ET "
                b"BT /F1 10 Tf 1 0 0 1 72 692 Tm (base) Tj ET"
            ),
        ],
    )


def test_form_inherits_tl_ts_tm_byte_equal_vs_live_reference(tmp_path):
    """The clone covers leading (T*/'/\" inside the form ride the
    page's TL), rise (inherited Ts survives the form's own BT), the
    no-font state case (a parent's `40 TL 3 Tc` with NO Tf still
    shapes the form's output), and the text MATRIX: a form showing
    text before its own BT/Tm continues at the parent's pen — mid-BT
    `(pre) Tj /Fm Do (post) Tj` over a bare-Tj form reads as ONE
    line. Form-local changes never leak back to the page."""
    _run_differential(
        tmp_path,
        [
            # TL into T* and into the quote operator
            _assemble_with_form(
                b"",
                b"BT /F1 12 Tf 40 TL 1 0 0 1 72 700 Tm (page) Tj ET /Fm"
                b" Do BT /F1 12 Tf 1 0 0 1 72 600 Tm (after) Tj ET",
                b"BT /F1 10 Tf 1 0 0 1 72 500 Tm (fa) Tj T* (fb) Tj ET",
            ),
            _assemble_with_form(
                b"",
                b"BT /F1 12 Tf 40 TL 1 0 0 1 72 700 Tm (page) Tj ET /Fm"
                b" Do BT /F1 12 Tf 1 0 0 1 72 600 Tm (after) Tj ET",
                b"BT /F1 10 Tf 1 0 0 1 72 500 Tm (fa) Tj (fb) ' ET",
            ),
            # Ts into the form (and through the form's own BT)
            _assemble_with_form(
                b"",
                b"BT /F1 12 Tf 8 Ts 1 0 0 1 72 700 Tm (page) Tj ET /Fm"
                b" Do BT /F1 12 Tf 1 0 0 1 72 600 Tm (after) Tj ET",
                b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (fa) Tj 0 Ts (fb) Tj"
                b" ET",
            ),
            # no-font parent: TL and Tc still inherit
            _assemble_with_form(
                b"",
                b"BT 40 TL 3 Tc ET /Fm Do BT /F1 12 Tf 1 0 0 1 72 600"
                b" Tm (after) Tj ET",
                b"BT /F1 10 Tf 1 0 0 1 72 500 Tm (fa ab) Tj T* (fb) Tj"
                b" ET",
            ),
            # cloned text matrix: bare-Tj form mid-BT joins the line
            _assemble_with_form(
                b"",
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (pre) Tj /Fm Do (post)"
                b" Tj ET",
                b"(inform) Tj",
            ),
            # form-local TL/Ts never leak back to the page
            _assemble_with_form(
                b"",
                b"BT /F1 12 Tf 40 TL 1 0 0 1 72 700 Tm (p1) Tj ET /Fm"
                b" Do BT /F1 12 Tf 1 0 0 1 72 600 Tm (p2) Tj T* (p3) Tj"
                b" 0 0 Td (p4) Tj ET",
                b"BT /F1 10 Tf 99 TL 20 Ts 1 0 0 1 300 300 Tm (f) Tj"
                b" ET",
            ),
        ],
    )


def test_form_closure_isolation_byte_equal_vs_live_reference(tmp_path):
    """The form's glyphs run in a FRESH recursive closure: they must
    not roll the page's twoLastChars ring nor leave a stale item scale
    behind. Distilled from the two hunt divergences at seeds
    910362/910420: (a) a quote-CR parent whose post-form show read a
    phantom pending space, (b) a letter-spaced parent whose post-form
    tracking space vanished because the form's glyphs rolled the
    ring."""
    _run_differential(
        tmp_path,
        [
            _assemble_with_form(
                b"",
                b"BT /F1 8 Tf 40 TL 0.5 Tc 1 0 0 1 137 475 Tm (alpha)"
                b" Tj (eta) ' /Fm Do (kappa) Tj ET BT /F1 12 Tf 1 0 0 1"
                b" 72 246 Tm (theta) Tj ET",
                b"12 TL 0.5 Tc (iota) Tj",
            ),
            _assemble_with_form(
                b"",
                b"BT /F1 12 Tf -6 Ts 2 Tc 1 0 0 1 54 379 Tm (zeta) Tj"
                b" /Fm Do (zeta) Tj ET BT /F1 12 Tf 1 0 0 1 72 514 Tm"
                b" (theta) Tj T* (epsi) Tj ET",
                b"(delta) Tj (eta) Tj",
            ),
        ],
    )


def _gen_form_inherit_stream(rng: random.Random):
    """Random parent streams (state ops, mid-BT or post-ET Do, second
    BT block) over random form shapes: classic BT forms, bare shows in
    the clone window, own-Tm forms, T*/quote-first forms, own-state
    forms — with random /Matrix values."""
    words = WORDS

    def state_ops(r):
        ops = []
        if r.random() < 0.5:
            ops.append(b"%d TL" % r.choice([12, 20, 40]))
        if r.random() < 0.4:
            ops.append(b"%s Ts" % str(r.choice([4, 8, -6, 30])).encode())
        if r.random() < 0.4:
            ops.append(b"%s Tc" % str(r.choice([0.5, 2, 3])).encode())
        if r.random() < 0.3:
            ops.append(b"%s Tw" % str(r.choice([1, 4])).encode())
        if r.random() < 0.3:
            ops.append(b"%d Tz" % r.choice([50, 150, 200]))
        return ops

    outer = [b"BT"]
    mid_do = rng.random() < 0.5
    if rng.random() < 0.8:
        outer.append(b"/F1 %d Tf" % rng.choice([8, 10, 12]))
    outer += state_ops(rng)
    outer.append(
        b"1 0 0 1 %d %d Tm"
        % (rng.randrange(40, 200), rng.randrange(300, 700))
    )
    for _ in range(rng.randrange(0, 3)):
        outer.append(b"(%s) Tj" % rng.choice(words).encode())
        if rng.random() < 0.3:
            outer.append(b"T*")
        if rng.random() < 0.2:
            outer.append(b"(%s) '" % rng.choice(words).encode())
    if mid_do:
        outer.append(b"/Fm Do")
        if rng.random() < 0.7:
            outer.append(b"(%s) Tj" % rng.choice(words).encode())
        outer.append(b"ET")
    else:
        outer += [b"ET", b"/Fm Do"]
    if rng.random() < 0.6:
        outer.append(
            b"BT /F1 12 Tf 1 0 0 1 72 %d Tm (%s) Tj"
            % (rng.randrange(100, 650), rng.choice(words).encode())
        )
        if rng.random() < 0.4:
            outer.append(b"0 Ts")
        if rng.random() < 0.3:
            outer.append(b"T* (%s) Tj" % rng.choice(words).encode())
        outer.append(b"ET")
    form = []
    shape = rng.randrange(5)
    if shape == 0:
        form.append(b"BT")
        if rng.random() < 0.7:
            form.append(b"/F1 %d Tf" % rng.choice([9, 11]))
        if rng.random() < 0.5:
            form.append(
                b"1 0 0 1 %d %d Tm"
                % (rng.randrange(30, 300), rng.randrange(100, 600))
            )
        form.append(b"(%s) Tj" % rng.choice(words).encode())
        if rng.random() < 0.4:
            form.append(b"T* (%s) Tj" % rng.choice(words).encode())
        if rng.random() < 0.3:
            form.append(b"(%s) '" % rng.choice(words).encode())
        form.append(b"ET")
    elif shape == 1:
        form.append(b"(%s) Tj" % rng.choice(words).encode())
        if rng.random() < 0.5:
            form.append(b"(%s) Tj" % rng.choice(words).encode())
    elif shape == 2:
        form.append(
            b"1 0 0 1 %d %d Tm (%s) Tj"
            % (
                rng.randrange(30, 300),
                rng.randrange(100, 600),
                rng.choice(words).encode(),
            )
        )
    elif shape == 3:
        form.append(
            rng.choice([b"T* (%s) Tj", b"(%s) '"])
            % rng.choice(words).encode()
        )
    else:
        form += state_ops(rng)
        form.append(b"(%s) Tj" % rng.choice(words).encode())
    if rng.random() < 0.4:
        form.insert(0, b"/F1 %d Tf" % rng.choice([7, 13]))
    mat = rng.choice(
        [
            b"",
            b"/Matrix [1 0 0 1 0 0]",
            b"/Matrix [1 0 0 1 50 -20]",
            b"/Matrix [0.5 0 0 0.5 100 100]",
            b"/Matrix [2 0 0 2 -30 10]",
        ]
    )
    return _assemble_with_form(mat, b" ".join(outer), b" ".join(form))


def _gen_rise_bt_stream(rng: random.Random) -> bytes:
    """Rise persistence across successive BT blocks + Td/T* interplay."""
    ops = []
    for _ in range(rng.randrange(2, 4)):
        ops.append(b"BT /F1 %d Tf" % rng.choice([10, 12]))
        ops.append(b"1 0 0 1 72 %d Tm" % rng.randrange(200, 700))
        for _ in range(rng.randrange(1, 4)):
            if rng.random() < 0.5:
                ops.append(
                    b"%s Ts" % str(rng.choice([0, 5, 8, -7, 30])).encode()
                )
            ops.append(b"(%s) Tj" % rng.choice(WORDS).encode())
            if rng.random() < 0.3:
                ops.append(b"T*")
            if rng.random() < 0.2:
                ops.append(b"0 -%d Td" % rng.choice([12, 14]))
        ops.append(b"ET")
    return _assemble(b" ".join(ops))


def test_form_inherit_sweep_byte_equal_vs_live_reference(tmp_path):
    """60 seeded docs over the inheritance decision space (the full
    hunt ran 1,400 at these and neighbouring seeds, zero divergence)."""
    docs = [
        _gen_form_inherit_stream(random.Random(900000 + s))
        for s in range(0, 60, 2)
    ] + [
        _gen_rise_bt_stream(random.Random(900001 + s))
        for s in range(0, 60, 2)
    ]
    _run_differential(tmp_path, docs)


# --------------------------------------------------------------------
# q/Q snapshot the WHOLE TextState (pdf.js StateManager: ctm, text/line
# matrices, font, Tc/Tw/Tz/TL/Ts), restoring flushes only on a
# font/size change (pdf.worker.js:37112); setGState with an ExtGState
# /Font entry sets the font by REF (pdf.worker.js:37053-37062); under
# shear the per-glyph compare carries rise on BOTH sides. All probed
# and pinned against live node (the hunts behind these ran 1,500
# seeded docs, zero divergence).
# --------------------------------------------------------------------

def test_qq_restores_full_text_state_byte_equal_vs_live_reference(tmp_path):
    _run_differential(
        tmp_path,
        [
            _assemble(
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (one) Tj q /F2 24 Tf"
                b" (two) Tj Q (three) Tj ET"
            ),
            _assemble(
                b"BT /F1 12 Tf 40 TL 1 0 0 1 72 700 Tm (a) Tj q 3 Tc"
                b" 8 Ts (b) Tj Q (c) Tj T* (d) Tj ET"
            ),
            # Q rewinds the TEXT MATRIX too (the pen returns to the
            # q-time position)
            _assemble(
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (a) Tj q 1 0 0 1 200"
                b" 500 Tm (b) Tj Q (c) Tj ET"
            ),
            # restore across a BT boundary
            _assemble(
                b"q BT /F1 12 Tf 3 Tc 1 0 0 1 72 700 Tm (a) Tj ET Q"
                b" BT /F1 12 Tf 1 0 0 1 72 686 Tm (bc de) Tj ET"
            ),
            # unbalanced extra Q is a no-op (StateManager pops nothing)
            _assemble(
                b"BT /F1 12 Tf 2 Tc 1 0 0 1 72 700 Tm (ab) Tj Q (cd)"
                b" Tj ET"
            ),
        ],
    )


def _assemble_with_gs(content: bytes) -> bytes:
    """Page with an ExtGState whose /Font entry points at the F1 font
    object at size 14 — the `gs` operator route to setFont."""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 4 0 R >> "
        b"/ExtGState << /GS1 5 0 R /GSE 6 0 R >> >> /Contents 7 0 R >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Type /ExtGState /Font [4 0 R 14] >>",
        b"<< /Type /ExtGState /LW 2 >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, o)
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offs:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref)
    )
    return bytes(out)


def test_gs_extgstate_font_byte_equal_vs_live_reference(tmp_path):
    _run_differential(
        tmp_path,
        [
            # gs is the ONLY font source: text must still show
            _assemble_with_gs(
                b"BT /GS1 gs 1 0 0 1 72 700 Tm (gsfont text) Tj ET"
            ),
            # gs without /Font is a no-op (the pre-Tf gate holds)
            _assemble_with_gs(
                b"BT /GSE gs 1 0 0 1 72 700 Tm (never shown) Tj ET"
            ),
            # gs overrides a prior Tf; q/Q wraps it
            _assemble_with_gs(
                b"BT /F1 8 Tf 1 0 0 1 72 700 Tm (small) Tj q /GS1 gs"
                b" (gsbig) Tj Q (small again) Tj ET"
            ),
        ],
    )


def test_skew_rise_compare_byte_equal_vs_live_reference(tmp_path):
    """Under shear the rise offset has a writing-axis component: the
    per-glyph compare must carry rise on BOTH the current and the prev
    point (pdf.js transforms both), else every glyph pair reads a
    phantom |rise * skew| gap and the word letter-spaces apart."""
    _run_differential(
        tmp_path,
        [
            _assemble(
                b"BT /F1 10 Tf -5 Ts 1 0 0.3 1 20 0 cm 1 0 0 1 252 529"
                b" Tm (epsi) Tj ET"
            ),
            _assemble(
                b"BT /F1 10 Tf 1 0 0 1 100 600 Tm (base) Tj 1 0 0.3 1"
                b" 20 0 cm 0 Tc -5 Ts 1 0 0 1 252 529 Tm (epsi) Tj ET"
            ),
            _assemble(
                b"BT /F1 10 Tf 8 Ts 1 0.3 0 1 0 0 cm 1 0 0 1 100 500"
                b" Tm (word pair) Tj ET"
            ),
        ],
    )


def _gen_qq_stream(rng: random.Random) -> bytes:
    """Nested q/Q soup carrying text-state changes with text at every
    level, Q mid-line and across BT boundaries, occasional unbalanced
    trailing Q."""
    ops = []
    depth = 0
    for _ in range(rng.randrange(1, 3)):
        ops.append(
            b"BT /F1 %d Tf 1 0 0 1 %d %d Tm"
            % (rng.choice([8, 10, 12]), rng.randrange(40, 150),
               rng.randrange(300, 700))
        )
        for _ in range(rng.randrange(4, 12)):
            k = rng.randrange(10)
            if k == 0 and depth < 4:
                ops.append(b"q")
                depth += 1
            elif k == 1 and depth > 0:
                ops.append(b"Q")
                depth -= 1
            elif k == 2:
                ops.append(b"%s Tc" % str(rng.choice([0, 0.5, 2, 3])).encode())
            elif k == 3:
                ops.append(b"%s Ts" % str(rng.choice([0, 5, -6, 12])).encode())
            elif k == 4:
                ops.append(b"%d TL" % rng.choice([10, 14, 30]))
            elif k == 5:
                ops.append(
                    b"/F%d %d Tf"
                    % (rng.randrange(1, 3), rng.choice([7, 9, 12, 18]))
                )
            elif k == 6:
                ops.append(
                    b"1 0 0 1 %d %d Tm"
                    % (rng.randrange(40, 300), rng.randrange(100, 700))
                )
            elif k == 7:
                ops.append(
                    b"T*" if rng.random() < 0.5
                    else b"0 -%d Td" % rng.choice([11, 14])
                )
            elif k == 8 and rng.random() < 0.5:
                s = str(rng.choice([0.5, 1, 2])).encode()
                ops.append(
                    b"%s 0 0 %s %d %d cm"
                    % (s, s, rng.randrange(-40, 40), rng.randrange(-40, 40))
                )
            else:
                w = rng.choice(WORDS).encode()
                ops.append(
                    rng.choice([b"(%s) Tj", b"(%s) '", b"( %s ) Tj"]) % w
                )
                if rng.random() < 0.25:
                    ops.append(
                        b"[(%s) %d (%s)] TJ"
                        % (rng.choice(WORDS).encode(),
                           rng.randrange(-400, 400),
                           rng.choice(WORDS).encode())
                    )
        ops.append(b"ET")
        while depth > 0 and rng.random() < 0.5:
            ops.append(b"Q")
            depth -= 1
    ops += [b"Q"] * depth
    if rng.random() < 0.2:
        ops.append(b"Q")
    return _assemble(b" ".join(ops))


def test_qq_sweep_byte_equal_vs_live_reference(tmp_path):
    docs = [
        _gen_qq_stream(random.Random(930000 + s)) for s in range(0, 60, 2)
    ]
    _run_differential(tmp_path, docs)


def _assemble_with_image(content: bytes) -> bytes:
    """Page with a 1x1 Image XObject at /Im — paintXObject flush
    probes."""
    img = (
        b"<< /Type /XObject /Subtype /Image /Width 1 /Height 1 "
        b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length 1 >>\n"
        b"stream\nA\nendstream"
    )
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 4 0 R >> /XObject << /Im 5 0 R >>"
        b" >> /Contents 6 0 R >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        img,
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, o)
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offs:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref)
    )
    return bytes(out)


def test_do_always_flushes_byte_equal_vs_live_reference(tmp_path):
    """paintXObject flushes the open item BEFORE resolving anything
    (pdf.worker.js:36946) — image XObjects, missing names and junk
    operands all flush. Visible through the scale-change window: a
    closed item skips updateAdvanceScale, so a tiny-positive-gap Tm
    rescale after `/Im Do` continues in-flow (`abcd`) where an open
    item would arm the zero-cascade standalone space (`ab cd`)."""
    _run_differential(
        tmp_path,
        [
            _assemble_with_image(
                b"BT /F1 1 Tf 10 0 0 10 72 700 Tm (ab) Tj /Im Do"
                b" 8 0 0 8 83.42 700 Tm (cd) Tj ET"
            ),
            _assemble(
                b"BT /F1 1 Tf 10 0 0 10 72 700 Tm (ab) Tj /Nope Do"
                b" 8 0 0 8 83.42 700 Tm (cd) Tj ET"
            ),
            _assemble_with_image(
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (ab ) Tj /Im Do (cd)"
                b" Tj ET"
            ),
            _assemble_with_image(
                b"BT /F1 1 Tf 10 0 0 10 72 700 Tm (ab) Tj /Im Do"
                b" 8 0 0 8 83.12 700 Tm (cd) Tj ET"
            ),
        ],
    )


# --------------------------------------------------------------------
# Glyph-category semantics (pdf.js getCharUnicodeCategory + the show
# loop, pdf.worker.js:20974/36684-36711): whitespace-class glyphs (JS
# \s — NBSP, tab, em-space, U+2028...) read as ONE plain space and
# take wordSpacing; invisible format marks (Cf — soft hyphen, ZWJ)
# skip ENTIRELY (no width, no charSpacing); missing-file Type1
# empty-name charcodes substitute a space at _spaceWidth
# (pdf.worker.js:29783); zero-width glyphs never move prevTransform
# (`if (scaledDim) prevTransform = ...`), which stalls the compare
# anchor and cascades standalone spaces. All probed and pinned against
# live node.
# --------------------------------------------------------------------

def _assemble_with_tounicode(content: bytes, pairs, widths=None,
                             first=32, pages=1, encoding=b"") -> bytes:
    """Helvetica with a /ToUnicode bfchar CMap (code, utf16-hex), an
    optional /Widths run starting at ``first`` and an optional /Encoding
    value; ``pages`` pages all show ``content``."""
    body = b"\n".join(b"<%02x> <%s>" % (c, u) for c, u in pairs)
    tu = (
        b"/CIDInit /ProcSet findresource begin 12 dict begin begincmap"
        b" /CMapName /T1 def 1 begincodespacerange <00> <ff>"
        b" endcodespacerange\n%d beginbfchar\n%s\nendbfchar\nendcmap"
        b" end end" % (len(pairs), body)
    )
    fdict = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
    if widths is not None:
        fdict += b" /FirstChar %d /LastChar %d /Widths [%s]" % (
            first, first + len(widths) - 1,
            b" ".join(str(w).encode() for w in widths),
        )
    if encoding:
        fdict += b" /Encoding " + encoding
    fdict += b" /ToUnicode 5 0 R >>"
    page = (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 4 0 R >> >> /Contents 6 0 R >>")
    kids = b" ".join(b"%d 0 R" % n for n in [3, *range(7, 6 + pages)])
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, pages),
        page,
        fdict,
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(tu), tu),
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
    ] + [page] * (pages - 1)
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, o)
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offs:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref)
    )
    return bytes(out)


def test_ws_category_glyphs_byte_equal_vs_live_reference(tmp_path):
    """NBSP / tab / NUL / DEL / 0x81 in non-embedded Helvetica all
    substitute a SPACE glyph at _spaceWidth (278) — `a\\xa0b` reads
    `a b`; runs collapse; Tw rides them."""
    _run_differential(
        tmp_path,
        [
            _assemble(b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (a\240b) Tj ET"),
            _assemble(b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (a\011b) Tj ET"),
            _assemble(b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (a\000b) Tj ET"),
            _assemble(b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (a\177b) Tj ET"),
            _assemble(
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (a\240\240\240b) Tj ET"
            ),
            _assemble(
                b"BT /F1 12 Tf 9 Tw 1 0 0 1 72 700 Tm (a\011b c) Tj ET"
            ),
        ],
    )


def test_cf_and_ws_tounicode_glyphs_byte_equal_vs_live_reference(tmp_path):
    """ToUnicode-mapped soft hyphen (U+00AD) and ZWJ (U+200D) vanish
    with ZERO advance; an em-space mapping (U+2003) reads as a space
    with its real width."""
    w = [278] * 38  # /Widths covering 32..69
    _run_differential(
        tmp_path,
        [
            # A -> U+00AD: invisible, no advance (word stays joined)
            _assemble_with_tounicode(
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (abAcd) Tj ET",
                [(0x41, b"00AD")], w,
            ),
            # A -> U+200D ZWJ: same
            _assemble_with_tounicode(
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (abAAcd) Tj ET",
                [(0x41, b"200D")], w,
            ),
            # A -> U+2003 em space: a real space glyph
            _assemble_with_tounicode(
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (abAcd) Tj ET",
                [(0x41, b"2003")], w,
            ),
        ],
    )


def test_zero_width_cascade_byte_equal_vs_live_reference(tmp_path):
    """Incomplete /Widths subsets: codes outside the array get
    /MissingWidth (default ZERO — pdf.worker.js:37518), and zero-width
    glyphs never move prevTransform, so the stale anchor cascades
    standalone spaces at every following glyph; with NO anchor at all
    (an all-zero-width line) glyphs append with no decisions even
    across Td jumps."""
    w = [278] * 38  # 32..69 only; a-z all zero width
    _run_differential(
        tmp_path,
        [
            # pen == stale prev: joined (equal-position shortcut)
            _assemble_with_tounicode(
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (xa) Tj (bc) Tj ET",
                [(0x43, b"0078")], w,
            ),
            # pen advanced past the stale prev: per-glyph cascade
            _assemble_with_tounicode(
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (hijCabc) Tj"
                b" (abcEEhij) Tj [(defg) 86 (EEhij)] TJ (abcDDabc) Tj"
                b" [(hij) 62 (DDhij)] TJ 0 -14 Td ET",
                [(0x41, b"2003"), (0x42, b"0009"), (0x43, b"0078"),
                 (0x44, b"0020"), (0x45, b"0020")], w,
            ),
            # null prevTransform + letter-spacing: no fake spaces until
            # a real-width glyph anchors the compare
            _assemble_with_tounicode(
                b"BT /F1 10 Tf 5 Tw 2 Tc 1 0 0 1 72 700 Tm (hijBhij)"
                b" Tj (hijCCdefg) Tj ET",
                [(0x41, b"0078"), (0x42, b"0078"), (0x43, b"200D"),
                 (0x44, b"00A0"), (0x45, b"0020")], w,
            ),
            # all-zero-width first line: the next line's glyphs join its
            # open item with NO EOL (prevTransform never set). Known
            # residual in this family (accepted): kern-derived gap
            # heuristics assume prevTransform tracks the pen, so a
            # kern landing after a long zero-width run can differ by
            # one space from the reference.
            _assemble_with_tounicode(
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (hijDDabc) Tj 0 -14 Td"
                b" (abcDabc) Tj [(abc) -48 (Dhij)] TJ ET",
                [(0x41, b"200D"), (0x42, b"00A0"), (0x43, b"0020"),
                 (0x44, b"00AD"), (0x45, b"00AD")], w,
            ),
        ],
    )


def test_standard_metrics_by_glyph_name_byte_equal_vs_live_reference(
    tmp_path,
):
    """A non-embedded font without /Widths takes its standard-14 widths
    by each code's GLYPH NAME — the /Differences name, else the default
    encoding's (buildCharCodeToWidth, pdf.worker.js:37565) — not by what
    /ToUnicode maps the code to. Glyph A (667 units) shown as 'i' (222)
    advances the pen 4 x 8.004 pt, so the next show at that pen joins;
    the Hebrew pages map A..E to letters that have no standard metric.
    Added without a live run: the expectations follow the pdf.js
    source."""
    from tests.test_bidi_reference import HEBREW_WIDTHS, hebrew_doc

    _run_differential(
        tmp_path,
        [
            _assemble_with_tounicode(
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (AAAA) Tj"
                b" 1 0 0 1 104.02 700 Tm (b) Tj ET",
                [(0x41, b"0069")],
            ),
            # /Differences /W (944) over A: the pen lands at 117.31
            _assemble_with_tounicode(
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (AAAA) Tj"
                b" 1 0 0 1 117.32 700 Tm (b) Tj ET",
                [(0x41, b"0069")],
                encoding=b"<< /Differences [65 /W] >>",
            ),
            *map(hebrew_doc, HEBREW_WIDTHS),
        ],
    )


def test_kern_gap_positional_with_td_rewinds_byte_equal_vs_live_reference(
    tmp_path,
):
    """pdf.js decides the kern fake-space at the NEXT glyph's compare —
    a POSITION gap against the one page-level prevTransform. A
    kern-value formula misses intervening Td rewinds: sub-point Td
    moves between the anchoring show and a leading-kern TJ pull the
    pen back, and the true gap (0.35pt here) sits in the continue
    window while the kern+Tc arithmetic alone reads a space. Found by
    a fresh-seed sweep of the big-Tc generator."""
    _run_differential(
        tmp_path,
        [
            _assemble(
                b"BT\n/F1 8 Tf\n1 0 0 1 40 700 Tm\n4.400 Tc\n-1.00 Tw"
                b"\n1.42 0.755 Td\n(nu) Tj\n0.15 0.334 Td\n0.54 0.484"
                b" Td\n[-600 80 (kap) -8000 -2000] TJ\n(ga) Tj"
                b"\n(mu mu) Tj\nET"
            ),
            _assemble(
                b"BT\n/F1 8 Tf\n1 0 0 1 40 700 Tm\n4.400 Tc"
                b"\n1.42 0.755 Td\n(nu) Tj\n0.15 0.334 Td\n0.54 0.484"
                b" Td\n[-600 80 (kap)] TJ\nET"
            ),
            # single pre-merged kern (the value formula's happy case)
            _assemble(
                b"BT\n/F1 8 Tf\n1 0 0 1 40 700 Tm\n4.400 Tc"
                b"\n1.42 0.755 Td\n(nu) Tj\n0.15 0.334 Td\n0.54 0.484"
                b" Td\n[-520 (kap)] TJ\nET"
            ),
        ],
    )


def _gen_tzneg_stream(rng: random.Random) -> bytes:
    """Negative-Tz (mirrored writing) soup: sign flips mid-line, q/Q
    wrapped flips, kerned TJ groups and Tc under mirror."""
    words = ["alpha", "beta", "gamma", "delta", "epsi", "zeta"]
    ops = [b"BT /F1 %d Tf" % rng.choice([8, 10, 12])]
    for _ in range(rng.randrange(3, 9)):
        k = rng.randrange(7)
        if k == 0:
            ops.append(b"%d Tz" % rng.choice([-100, -120, -50, 100, 150, -80]))
        elif k == 1:
            ops.append(b"%s Tc" % str(rng.choice([0, 0.5, 2])).encode())
        elif k == 2:
            ops.append(
                b"1 0 0 1 %d %d Tm"
                % (rng.randrange(100, 500), rng.randrange(100, 700))
            )
        elif k == 3:
            ops.append(
                b"T*" if rng.random() < 0.4
                else b"0 -%d Td" % rng.choice([12, 14])
            )
        elif k == 4 and rng.random() < 0.5:
            ops += [b"q", b"%d Tz" % rng.choice([-100, 200]),
                    b"(%s) Tj" % rng.choice(words).encode(), b"Q"]
        elif k == 5:
            ops.append(
                b"[(%s) %d (%s)] TJ"
                % (rng.choice(words).encode(), rng.randrange(-400, 400),
                   rng.choice(words).encode())
            )
        else:
            ops.append(
                b"(%s %s) Tj"
                % (rng.choice(words).encode(), rng.choice(words).encode())
            )
    ops.append(b"ET")
    return _assemble(b" ".join(ops))


def test_negative_tz_byte_equal_vs_live_reference(tmp_path):
    """Negative Tz mirrors the writing direction: pdf.js's composed
    transform gets m[0] < 0 (rotate 180 through the textHScale sign)
    and — the subtle part — the cascade thresholds multiply by the
    ITEM's textOrientation = sign(width): an item OPENED under the
    mirror compares with inverted windows (small gaps CR-flush, larger
    ones flush + standalone space), while a mirrored run CONTINUING a
    positive-width item keeps the normal windows (in-flow fake
    spaces). The engine folds the Tz sign into the quadrant frame,
    keeps the magnitude in the advance math, preserves the device pen
    across sign flips, and tracks the stale item-orientation sign.
    370 hunt docs clean; these pin the distilled shapes."""
    _run_differential(
        tmp_path,
        [
            _assemble(
                b"BT /F1 12 Tf -100 Tz 1 0 0 1 300 700 Tm (mirror"
                b" text) Tj ET"
            ),
            # mirrored run CONTINUING a positive item: in-flow spaces
            _assemble(
                b"BT /F1 8 Tf [(delta) 133 (gamma)] TJ 2 Tc -120 Tz"
                b" [(epsi) 20 (epsi)] TJ ET"
            ),
            # fresh item under mirror: CR-flush chain (joined output)
            _assemble(
                b"BT /F1 8 Tf 2 Tc (gamma delta) Tj -50 Tz 1 0 0 1 466"
                b" 356 Tm T* q 200 Tz (delta) Tj Q (alpha epsi) Tj ET"
            ),
            # fresh item under mirror, gaps past the CR window:
            # standalone-space chain (spaced output)
            _assemble(
                b"BT /F1 8 Tf 0 -12 Td (delta delta) Tj 0 -12 Td"
                b" 1 0 0 1 190 384 Tm 2 Tc q -100 Tz (gamma) Tj Q"
                b" 0.5 Tc 0 -12 Td ET"
            ),
            # sign flip preserves the device pen mid-line
            _assemble(
                b"BT /F1 10 Tf (zeta beta) Tj 1 0 0 1 320 431 Tm -50"
                b" Tz (epsi beta) Tj ET"
            ),
        ],
    )


def test_negative_tz_sweep_byte_equal_vs_live_reference(tmp_path):
    docs = [
        _gen_tzneg_stream(random.Random(1400000 + s)) for s in range(40)
    ]
    _run_differential(tmp_path, docs)


# --------------------------------------------------------------------
# The cloned LINE matrix lags the text matrix (pdf.js clones
# textLineMatrix SEPARATELY from textMatrix into a Form XObject run —
# pdf.worker.js clone of the eval state). After a show the advanced tm
# sits away from lm, so a form composing Td/TD/T*/'/" BEFORE any
# BT/full-Tm of its own must anchor at the parent's lm, not its pen.
# The engine seeds the nested run with a one-shot lm (the K_INH rider
# f2/f3 + the lm_seed plumbing); these pin that machinery.
# --------------------------------------------------------------------


def _gen_form_lm_stream(rng: random.Random) -> bytes:
    """Random quad-0 parents whose pen is displaced from lm at Do
    (TJ kerns both ways, multi-shows, Tc), over random clone-window
    form prefixes (bare show then Td — the load-bearing shape — plus
    Td/TD/T*/quote-first and q/Q wrapped variants), with and without
    a form /Matrix."""
    words = WORDS
    w = lambda: rng.choice(words).encode()
    kern = rng.choice((-12000, -5000, -900, 300, 900, 2000, 5000,
                       8000, 12000))
    outer = [b"BT /F1 %d Tf" % rng.choice((8, 10, 12))]
    if rng.random() < 0.4:
        outer.append(b"%d TL" % rng.choice((12, 20, 40)))
    if rng.random() < 0.3:
        outer.append(b"%.1f Tc" % rng.choice((0.5, 1.5)))
    outer.append(b"1 0 0 1 %d 700 Tm" % rng.randrange(100, 400))
    outer.append(b"[(%s) %d (%s)] TJ" % (w(), kern, w()))
    if rng.random() < 0.4:
        outer.append(b"(%s) Tj" % w())
    post = rng.random() < 0.8
    outer.append(b"/Fm Do" + (b" (post) Tj ET" if post else b" ET"))

    tdx = rng.choice((0, 0, 5, -8, 30))
    tdy = rng.choice((0, 0, -14, 12))
    prefix = rng.choice((
        b"(%s) Tj %d %d Td (%s) Tj" % (w(), tdx, tdy, w()),
        b"%d %d Td (%s) Tj" % (tdx, tdy, w()),
        b"%d %d TD (%s) Tj" % (tdx, tdy, w()),
        b"T* (%s) Tj" % w(),
        b"(%s) '" % w(),
        b"q %d %d Td (%s) Tj Q %d %d Td (%s) Tj"
        % (tdx, tdy, w(), tdx, tdy, w()),
        b"(%s) Tj (%s) Tj %d %d Td (%s) Tj"
        % (w(), w(), tdx, tdy, w()),
    ))
    form = [prefix]
    if rng.random() < 0.3:  # form's own Tm afterwards drops the seed
        form.append(b"1 0 0 1 %d %d Tm (%s) Tj"
                    % (rng.randrange(72, 400), rng.randrange(100, 600),
                       w()))
    mat = b""
    if rng.random() < 0.25:
        mat = b"/Matrix [1 0 0 1 %d %d]" % (
            rng.randrange(-50, 50), rng.randrange(-50, 50))
    return _assemble_with_form(mat, b" ".join(outer), b" ".join(form))


def test_form_lm_clone_byte_equal_vs_live_reference(tmp_path):
    """Pinned load-bearing shapes: a form-local show advances the
    cloned tm away from the cloned lm, so the following `0 0 Td` must
    rewind to the PARENT's lm (x=200 here) — with the parent's pen
    itself kerned far backward, the pre-fix engine (Td against tm)
    joined what the reference breaks. Plus the partial-Tm fallback and
    post-ET Do edges."""
    _run_differential(
        tmp_path,
        [
            # the three shapes that diverged pre-fix (kern 5000/8000/
            # 12000 x show-then-Td), kept verbatim
            _assemble_with_form(
                b"",
                b"BT /F1 12 Tf 1 0 0 1 200 700 Tm [(abcd) %d (ef)] TJ"
                b" /Fm Do (post) Tj ET" % k,
                b"(pre) Tj 0 0 Td (gamma) Tj",
            )
            for k in (5000, 8000, 12000)
        ]
        + [
            # T*-first with TL: y from lm, not pen
            _assemble_with_form(
                b"",
                b"BT /F1 12 Tf 40 TL 1 0 0 1 200 700 Tm [(abcd) 8000"
                b" (ef)] TJ /Fm Do (post) Tj ET",
                b"T* (gamma) Tj",
            ),
            # quote-first rides the seed through the leading translate
            _assemble_with_form(
                b"",
                b"BT /F1 12 Tf 14 TL 1 0 0 1 200 700 Tm [(abcd) 8000"
                b" (ef)] TJ /Fm Do (post) Tj ET",
                b"(gamma) '",
            ),
            # q/Q snapshot the pending seed
            _assemble_with_form(
                b"",
                b"BT /F1 12 Tf 1 0 0 1 200 700 Tm [(abcd) 8000 (ef)]"
                b" TJ /Fm Do (post) Tj ET",
                b"q (g0) Tj 0 0 Td (g1) Tj Q (g2) Tj 0 0 Td (g3) Tj",
            ),
            # the form's own full Tm drops the seed
            _assemble_with_form(
                b"",
                b"BT /F1 12 Tf 1 0 0 1 200 700 Tm [(abcd) 8000 (ef)]"
                b" TJ /Fm Do (post) Tj ET",
                b"(pre) Tj 1 0 0 1 300 300 Tm 0 0 Td (gamma) Tj",
            ),
            # form BT resets both matrices, seed dropped
            _assemble_with_form(
                b"",
                b"BT /F1 12 Tf 1 0 0 1 200 700 Tm [(abcd) 8000 (ef)]"
                b" TJ /Fm Do (post) Tj ET",
                b"BT /F1 10 Tf (pre) Tj 0 0 Td (gamma) Tj ET",
            ),
        ],
    )


def test_form_lm_sweep_byte_equal_vs_live_reference(tmp_path):
    """40 seeded docs over the lm-vs-tm clone decision space (the
    fresh-seed hunt behind this ran larger batches at neighbouring
    seeds, zero divergence)."""
    docs = [
        _gen_form_lm_stream(random.Random(1500000 + s)) for s in range(40)
    ]
    _run_differential(tmp_path, docs)


def test_no_anchor_kern_makes_no_decision_byte_equal_vs_live_reference(
    tmp_path,
):
    """With a NULL page-level prevTransform (an all-zero-width glyph
    prefix — /Widths subset misses a-z), pdf.js's compare at the next
    glyph early-returns TRUE (pdf.worker.js:36543-36545) before
    notASpace/shouldAddWhitepsace ever run, so a TJ kern can neither
    add a fake space nor kill a pending run. The engine's kern-value
    fallback used to fire here (distilled from the degenerate
    zero-width hunt, 45/200 -> 32/200 after the fix)."""
    w = [278] * 38  # 32..69 only; a-z zero width
    _run_differential(
        tmp_path,
        [
            # in-flow-window kern between zero-width items: NO space
            _assemble_with_tounicode(
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm [(b) -120 (aA) 300"
                b" (DD) 62] TJ 0.5 Tc ET",
                [(0x41, b"200D"), (0x42, b"00A0"), (0x44, b"00AD"),
                 (0x45, b"0020")], w,
            ),
            # leading kern on a fresh page: no anchor -> no decision
            _assemble_with_tounicode(
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm [ -300 (ab) -120"
                b" (cd)] TJ ET",
                [(0x45, b"0020")], w,
            ),
            # kern after a pending zero-width space run: no kill either
            _assemble_with_tounicode(
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm [(abE) -48 (cd)] TJ"
                b" ET",
                [(0x45, b"0020")], w,
            ),
            # once a REAL-width glyph anchors (C = visible x at 278),
            # the positional path takes over unchanged
            _assemble_with_tounicode(
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (C) Tj [(ab) -900"
                b" (cd)] TJ ET",
                [(0x43, b"0078"), (0x45, b"0020")], w,
            ),
        ],
    )


def test_clipped_glyph_gap_spaces_byte_equal_vs_live_reference(tmp_path):
    """A box-rejected glyph advances the pen but never moves
    prevTransform, so the next KEPT glyph's compare sees the skipped
    width as advanceX — pdf.js pushes an in-flow " " INSIDE the item
    (addFakeSpaces, worker:36759-36767) or flushes on the wider bands.
    Under a scaled CTM the text-space-width box test (worker:36531)
    rejects interior glyphs of ordinary words near the page edge:
    `(alpha)` at device x=-6.5 under `0.5 cm` reads "a pha" in the
    reference. The engine's clip path dropped the glyph but never
    split, emitting "apha". Distilled from a fresh-seed q/Q hunt
    (seed 9900024); a 300-doc scaled-straddle hunt ran clean after
    the fix."""
    _run_differential(
        tmp_path,
        [
            _assemble(
                b"BT /F1 12 Tf 0.5 0 0 0.5 -34 34 cm 1 0 0 1 55 638"
                b" Tm (alpha) Tj ET"
            ),
            # right-edge straddle under scale
            _assemble(
                b"BT /F1 12 Tf 0.5 0 0 0.5 300 34 cm 1 0 0 1 590 638"
                b" Tm (alphabet) Tj ET"
            ),
            # deep scale-down: many glyphs clip, gaps across them
            _assemble(
                b"BT /F1 12 Tf 0.25 0 0 0.25 -8 34 cm 1 0 0 1 0 638"
                b" Tm (wide letters here) Tj ET"
            ),
            # the originating shape: q/Q + quote + TJ kerns after the
            # clipped-glyph item
            _assemble(
                b"BT /F1 12 Tf 1 0 0 1 111 416 Tm 0.5 0 0 0.5 -34 34"
                b" cm q Q (rho) Tj 0 -11 Td 1 0 0 1 55 638 Tm T*"
                b" (alpha) ' [(beta) -397 (omicron)] TJ (tau) Tj"
                b" [(omicron) -144 (epsilon)] TJ ET"
            ),
        ],
    )


# ---------------------------------------------------------------------------
# WIDTH-REGISTER model (pdf.js textContentItem.width): textOrientation =
# sign(width) multiplies every cascade threshold, so an all-zero-width
# item degenerates every band (flush + standalone " " at prevTransform
# for any positive advance, CR for any negative) and absorbed tightened
# kerns (width += advanceX, pdf.worker.js:36641-36651) can drive the
# register NEGATIVE, inverting the windows. Distilled from two 200-doc
# hunts (seeds 5150000/6210000) that went 43/200 -> 0/200 divergent.

_ZWREG_PAIRS = [
    (0x41, b"2003"), (0x42, b"0009"), (0x43, b"0078"), (0x44, b"0020"),
    (0x45, b"00AD"), (0x46, b"200D"), (0x47, b"0079"),
]
_ZWREG_W = [278] * 38  # codes 32..69 only: a-z all zero-width


def _gen_zwreg_stream(rng: random.Random) -> bytes:
    """Degenerate all-zero-width-letter font (sparse /Widths,
    MissingWidth 0) mixing whitespace-category and Cf ToUnicode maps
    with TJ kerns — every gap decision runs against a zero register."""
    words = "abc hij defg hijk abcd ab h".split()
    ops = []
    n = rng.randrange(4, 12)
    for _ in range(n):
        r = rng.random()
        if r < 0.40:
            parts = []
            for _ in range(rng.randrange(2, 5)):
                wd = rng.choice(words)
                if rng.random() < 0.6:
                    cap = rng.choice(b"ABCDEFG")
                    pos = rng.randrange(len(wd) + 1)
                    wd = wd[:pos] + chr(cap) + wd[pos:]
                parts.append(b"(%s)" % wd.encode())
                k = rng.choice([-400, -180, -90, -48, 62, 86, 150, 300])
                parts.append(str(k).encode())
            ops.append(b"[" + b" ".join(parts[:-1]) + b"] TJ")
        elif r < 0.65:
            wd = rng.choice(words)
            if rng.random() < 0.6:
                cap = rng.choice(b"ABCDEFG")
                pos = rng.randrange(len(wd) + 1)
                wd = wd[:pos] + chr(cap) + wd[pos:]
            ops.append(b"(%s) Tj" % wd.encode())
        elif r < 0.75:
            ops.append(b"0 -%d Td" % rng.randrange(10, 18))
        elif r < 0.85:
            ops.append(b"%d %d Td" % (rng.randrange(-30, 60),
                                      rng.randrange(-4, 4)))
        elif r < 0.92:
            ops.append(b"%s Tc" % str(rng.choice([0, 0.5, 1.5, 3.0])).encode())
        else:
            ops.append(b"(%s) '" % rng.choice(words).encode())
    content = b" ".join(
        [b"BT", b"/F1 12 Tf", b"1 0 0 1 72 700 Tm"] + ops + [b"ET"]
    )
    return _assemble_with_tounicode(content, _ZWREG_PAIRS, _ZWREG_W)


_NZREG_W = [
    180 if chr(c) in "il.'|:;," else (222 if chr(c) in "jft" else 500)
    for c in range(32, 123)
]


def _gen_nzreg_stream(rng: random.Random) -> bytes:
    """NO zero-width glyphs: narrow widths (180/200/222) + tight kerns
    so absorbed negative gaps flip the register sign without any
    zero-width glyph (the C replay must catch these natively — no
    zw-defer shortcut)."""
    words = "alpha beta gamma delta".split()
    narrow = "ili jil l.i ilj i l t,l".split()
    ops = []
    n = rng.randrange(4, 12)
    for _ in range(n):
        r = rng.random()
        if r < 0.40:
            parts = []
            for _ in range(rng.randrange(2, 5)):
                wd = rng.choice(narrow if rng.random() < 0.7 else words)
                if rng.random() < 0.6:
                    cap = rng.choice(b"ABCDEFG")
                    pos = rng.randrange(len(wd) + 1)
                    wd = wd[:pos] + chr(cap) + wd[pos:]
                parts.append(b"(%s)" % wd.encode())
                k = rng.choice([-400, -180, -90, -48, 62, 86, 120,
                                150, 170, 190, 300])
                parts.append(str(k).encode())
            ops.append(b"[" + b" ".join(parts[:-1]) + b"] TJ")
        elif r < 0.65:
            wd = rng.choice(narrow if rng.random() < 0.5 else words)
            if rng.random() < 0.6:
                cap = rng.choice(b"ABCDEFG")
                pos = rng.randrange(len(wd) + 1)
                wd = wd[:pos] + chr(cap) + wd[pos:]
            ops.append(b"(%s) Tj" % wd.encode())
        elif r < 0.75:
            ops.append(b"0 -%d Td" % rng.randrange(10, 18))
        elif r < 0.85:
            ops.append(b"%d %d Td" % (rng.randrange(-30, 60),
                                      rng.randrange(-4, 4)))
        elif r < 0.92:
            ops.append(b"%s Tc" % str(rng.choice(
                [0, 0.5, 1.5, -0.5, -1.0, -2.0])).encode())
        else:
            ops.append(b"(%s) '" % rng.choice(narrow).encode())
    content = b" ".join(
        [b"BT", b"/F1 12 Tf", b"1 0 0 1 72 700 Tm"] + ops + [b"ET"]
    )
    return _assemble_with_tounicode(content, _ZWREG_PAIRS, _NZREG_W)


def _gen_form_lm_edge_stream(rng: random.Random) -> bytes:
    """Cloned-lm edge windows (VERDICT r4 #5a): no-Tm parents, rotated/
    scaled/SHEARED parent Tm with shows before Do, nested form chains,
    and quote-first forms under q/Q — the round-5 hunt caught the
    quad -1 device-pen reconstruction dropping a sheared show's
    f-advance (matn-inverse of a stale anchor cross_v; non-orthogonal
    frames move the pen's cross coordinate with the advance), so a
    form's `0 0 Td` rewound to the wrong line. Exact pen-cancellation
    kerns (shape 1 of the original hunt) are excluded: our scaling
    groups (w/1000)*fs*hs where pdf.js does (w*(0.001*fs))*hs — 1-ulp
    apart, so a constructed pen returning to EXACTLY x=0 flips the
    left-edge box test (documented ROADMAP residual with the probe)."""
    w = lambda: rng.choice(WORDS).encode()
    kern = rng.choice((-12000, -5000, -900, 900, 5000, 12000))
    shape = rng.choice((0, 2, 3, 4))
    if shape == 0:
        outer = b"BT /F1 %d Tf %s [(%s) %d (%s)] TJ /Fm Do (post) Tj ET" % (
            rng.choice((8, 12)),
            b"%d TL " % rng.choice((14, 40)) if rng.random() < 0.5 else b"",
            w(), kern, w())
        form = rng.choice((
            b"(pre) Tj 0 0 Td (gamma) Tj", b"0 0 Td (gamma) Tj",
            b"T* (gamma) Tj", b"(gamma) '"))
        mat = b""
    elif shape == 2:
        a, b_, c, d = rng.choice((
            (0, 1, -1, 0), (0, -1, 1, 0), (-1, 0, 0, -1), (2, 0, 0, 2),
            (1, 1, 0, 1)))
        outer = (b"BT /F1 12 Tf 14 TL %d %d %d %d %d %d Tm"
                 b" [(%s) %d (%s)] TJ /Fm Do (post) Tj ET"
                 % (a, b_, c, d, rng.randrange(100, 400),
                    rng.randrange(400, 700), w(), kern, w()))
        form = rng.choice((
            b"(pre) Tj 0 0 Td (gamma) Tj",
            b"%d %d Td (gamma) Tj" % (rng.choice((0, 5, -8)),
                                      rng.choice((0, -14))),
            b"T* (gamma) Tj", b"(gamma) '"))
        mat = b""
    elif shape == 3:
        outer = (b"BT /F1 12 Tf 1 0 0 1 %d 700 Tm [(%s) %d (%s)] TJ"
                 b" /Fm Do (post) Tj ET"
                 % (rng.randrange(100, 400), w(), kern, w()))
        form = b"(mid) Tj [(%s) %d] TJ /Fm2 Do (aft) Tj" % (w(), kern)
        form2 = rng.choice((
            b"(pre) Tj 0 0 Td (gamma) Tj", b"T* (gamma) Tj",
            b"(gamma) '", b"0 0 Td (gamma) Tj"))
        mat = (b"/Matrix [1 0 0 1 %d %d]" % (
            rng.randrange(-30, 30), rng.randrange(-30, 30))
            if rng.random() < 0.3 else b"")
        return _assemble_with_form(mat, outer, form, (b"", form2))
    else:
        outer = (b"BT /F1 12 Tf %s 20 TL 1 0 0 1 %d 700 Tm"
                 b" [(%s) %d (%s)] TJ q /Fm Do Q (post) Tj ET"
                 % (b"1.5 Tc 2 Tw" if rng.random() < 0.5 else b"",
                    rng.randrange(100, 400), w(), kern, w()))
        form = rng.choice((
            b'(gamma) "', b"1 2 (gamma) \"",
            b"q T* (g0) Tj Q (g1) ' ",
            b"(g0) ' (g1) ' 0 0 Td (g2) Tj"))
        mat = b""
    return _assemble_with_form(mat, outer, form)


def test_form_lm_shear_pen_byte_equal_vs_live_reference(tmp_path):
    """Distilled: sheared parent Tm (1 1 0 1) — the show advances BOTH
    e and f (translateTextMatrix with b == 1), so the form's cloned tm
    must carry the f-advance; its `0 0 Td` then rewinds to the PARENT
    lm's line, away from (pre)'s sheared baseline. The pre-fix engine
    joined 'pregamma'."""
    _run_differential(
        tmp_path,
        [
            _assemble_with_form(
                b"",
                b"BT /F1 12 Tf 14 TL 1 1 0 1 132 423 Tm"
                b" [(zeta) 900 (epsilon)] TJ /Fm Do (post) Tj ET",
                b"(pre) Tj 0 0 Td (gamma) Tj",
            ),
        ],
    )


def test_form_lm_edge_sweep_byte_equal_vs_live_reference(tmp_path):
    """40 seeded form-lm edge docs (the round-5 hunt ran 600 fresh docs
    at bases 81M/82M/86M/87M, zero divergence after the shear-pen and
    preprocessor fixes)."""
    _run_differential(
        tmp_path,
        [_gen_form_lm_edge_stream(random.Random(86_000_000 + s))
         for s in range(40)],
    )


def _gen_arity_stream(rng: random.Random) -> bytes:
    """Operand-COUNT chaos with non-degenerate values: pdf.js's
    EvaluatorPreprocessor stash (nonProcessedArgs) flows — overfilled
    fixed-arity ops shed their earliest operands into the stash,
    underfilled ops pull them back (or are skipped wholesale), unknown
    commands keep pending operands, and the Lexer's longest-known-
    prefix scan splits "BQ" into B + Q. Degenerate VALUES (0/booleans
    in matrix slots — pdf.js NaN-cascade land) are the documented
    residual and excluded here; tests below pin the scalar keyword
    semantics separately."""
    words = WORDS

    def numop():
        return rng.choice((b"2", b"5", b"30", b"700", b"1.5", b"null"))

    ops = [b"BT", b"/F1 12 Tf", b"40 TL", b"100 700 Td"]
    for _ in range(rng.randrange(6, 16)):
        extra = b" ".join(numop() for _ in range(rng.randrange(0, 5)))
        op = rng.choice((
            b"Td", b"TD", b"Tc", b"Tw", b"TL", b"Tm", b"Ts", b"Tz",
            b"T*", b"q", b"Q", b"re", b"cm", b"gs", b"BQ", b"Zz",
            b"EMC", b"BMC", b"BDC", b"MP", b"w", b"d", b"m", b"l",
        ))
        show = b""
        r = rng.random()
        if r < 0.35:
            show = b"(%s) Tj" % rng.choice(words).encode()
        elif r < 0.5:
            show = b"(%s) '" % rng.choice(words).encode()
        elif r < 0.6:
            show = b"(%s) q Q Tj" % rng.choice(words).encode()
        elif r < 0.7:
            show = b"%s %s (%s) \"" % (numop(), numop(),
                                       rng.choice(words).encode())
        ops.append((extra + b" " + op + b" " + show).strip())
    ops.append(b"ET")
    return _assemble(b" ".join(ops))


def test_operand_arity_probes_byte_equal_vs_live_reference(tmp_path):
    """Distilled preprocessor probes, each verified against the live
    node reference during the round-5 build: skip-on-underflow
    (`(gamma) "` with 1-2 operands is dropped), stash flows
    (`(hello) q Q Tj` shows hello; `8 7 (a) Tj ... 30 Td` runs
    Td(7,30); LIFO pull order), unknown commands keeping operands,
    true/false as 1/0 operands, null dropped, the 34-operand page stop
    (prior text kept), TJ over a plain string == Tj, the Lexer's
    longest-known-prefix command scan (BQ == B + Q), and Tz(0) kept
    (not guarded to 100)."""
    _run_differential(
        tmp_path,
        [_assemble(c) for c in [
            b'BT /F1 12 Tf 100 700 Td (a) Tj (gamma) " (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td (a) Tj 2 (gamma) " (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td (a) Tj 9 2 (gamma) " (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td (a) Tj 7 9 2 (gamma) " (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td 5 9 2 (a) Tj (gamma) " (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td 9 2 1.5 Tc (gamma) " (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td (a) Tj Tj (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td (a) (gamma) Tj (z) Tj ET',
            b"BT /F1 12 Tf 40 TL 100 700 Td (a) Tj ' (z) Tj ET",
            b"BT /F1 12 Tf 40 TL 100 700 Td (a) (gamma) ' (z) Tj ET",
            b'BT /F1 12 Tf 100 700 Td (a) Tj -40 Td (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td (a) Tj 7 30 -40 Td (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td (a) Tj 0 0 1 50 600 Tm (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td 8 7 (a) Tj (b) Tj 30 Td (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td (hello) q Q Tj (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td /F1 24 5 Tc (a) Tj 0 0 Td Tf'
            b' (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td (a) Tj '
            + b" ".join(b"%d" % i for i in range(34)) + b' Tm (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td (a) Tj '
            + b" ".join(b"%d" % i for i in range(33)) + b' Tm (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td (a) Tj 0 -40 BQ Td (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td (a) Tj 0 -40 true Td (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td (a) Tj /Span << /MCID 0 >> BDC'
            b' (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td (a) Tj 9 /Span << /MCID 0 >> BDC'
            b' 2 (gamma) " (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td 5 6 7 8 9 10 11 re (a) Tj 0 -40'
            b' Td (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td (a) Tj [(x) (y)] q Q Tj (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td (a) Tj (bcd) q Q TJ (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td (a) Tj [(x) -5000 (y)] q Q TJ'
            b' (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td (a) Tj 42 q Q Tj (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td (a) Tj /Gx q Q Tj (z) Tj ET',
            b'BT /F1 12 Tf 100 700 Td 1 2 3 4 (a) Tj Tc (b) Tj Tw'
            b' (c) Tj ET',
            b"BT /F1 12 Tf 100 700 Td (a) Tj TL (x) ' ET",
            b'BT /F1 12 Tf 100 700 Td (ab) Tj 5 true Tc (cd) Tj ET',
            b'BT /F1 12 Tf 100 700 Td (ab) Tj true 5 Tc (cd) Tj ET',
            b'BT /F1 12 Tf 100 700 Td (ab) Tj 5 null Tc (cd) Tj ET',
            b'BT /F1 12 Tf 100 700 Td (ab) Tj 5 false Tc (cd) Tj ET',
            b'BT /F1 12 Tf 100 700 Td (ab) Tj 5 BQ Tc (cd) Tj ET',
            b'BT /F1 12 Tf 100 700 Td null 1.5 true false Tz 700 5'
            b' (sigma) " ET',
        ]],
    )


def test_operand_arity_sweep_byte_equal_vs_live_reference(tmp_path):
    """40 seeded stash-flow docs (the round-5 hunt behind this ran 450
    fresh docs at bases 83M/84M/85M; 448 byte-equal after the stash +
    lexer-prefix + Tz(0) fixes — the two residuals at base 83M are
    huge-Tc cascade boundaries seeded by stash-exposed state combos,
    recorded in ROADMAP)."""
    _run_differential(
        tmp_path,
        [_gen_arity_stream(random.Random(84_000_000 + s))
         for s in range(40)],
    )


def _gen_allzw_stream(rng: random.Random) -> bytes:
    """EVERY glyph zero-width (/Widths all zero AND a-z absent with
    MissingWidth 0): the pen moves by Tc and kerns alone, so long runs
    march it off the right page edge where pdf.js's box test — at the
    TOP of compareWithLastPosition, BEFORE the null-prevTransform
    early-return — silently swallows the tail. The round-5 hunt caught
    the engine keeping those tails on Cf-bearing items (the former
    Python tier's item splitter returned None on a reject-only walk)."""
    letters = "abcdefgh"

    def longword():
        n = rng.randrange(8, 24)
        s = "".join(rng.choice(letters) for _ in range(n))
        if rng.random() < 0.5:
            pos = rng.randrange(len(s) + 1)
            s = s[:pos] + chr(rng.choice(b"ABCDEFG")) + s[pos:]
        if rng.random() < 0.4:
            s = s[:rng.randrange(len(s))] + " " + s[rng.randrange(len(s)):]
        return s.encode()

    ops = []
    if rng.random() < 0.5:
        ops.append(b"%s Tc" % str(rng.choice([0.5, 1.5, 3.0])).encode())
    for _ in range(rng.randrange(2, 6)):
        parts = []
        for _ in range(rng.randrange(2, 5)):
            parts.append(b"(%s)" % longword())
            parts.append(str(rng.choice(
                [-2000, -900, -400, -180, -90, -48, -12, -3, 3, 12, 62,
                 86, 150, 300, 900, 2000])).encode())
        ops.append(b"[" + b" ".join(parts[:-1]) + b"] TJ")
        if rng.random() < 0.3:
            ops.append(b"%s Tc" % str(
                rng.choice([0, 0.5, 1.5, 3.0])).encode())
        if rng.random() < 0.2:
            ops.append(b"/F1 %d Tf" % rng.choice((8, 12, 24)))
    content = b" ".join(
        [b"BT", b"/F1 12 Tf", b"1 0 0 1 72 700 Tm"] + ops + [b"ET"]
    )
    return _assemble_with_tounicode(content, _ZWREG_PAIRS, [0] * 38)


def test_allzw_offpage_tail_byte_equal_vs_live_reference(tmp_path):
    """Distilled minimal (seed 79e6+11, greedy-shrunk): Tc=3 marches a
    zero-width pen to x=612.084 mid-item; pdf.js rejects 'g' onward
    (reject advances by width only — zero — so the whole tail stays
    off-page) and the pending space before it never materializes. The
    pre-fix engine emitted ' gbhaedadg'."""
    _run_differential(
        tmp_path,
        [
            _assemble_with_tounicode(
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm 3.0 Tc"
                b" [(haeaedgeagc) 3 (hcadhddhCgggc) 62 (bfghddDdccfhb)"
                b" -400 (cceffbeddafAdb)] TJ"
                b" [(dhfhhhfefAbgdeahbe efAbgdeahbedcf) -90"
                b" (dcDcbddhhaafcfdec) 12 (gagegddhcaeacacaeghbg) -180"
                b" (ebcghafhhafffgd ebcghafhhafffgdabeGbddag)] TJ"
                b" [(hdbAcghagc) 86 (agbhd gbhaeEdadg) -2000"
                b" (egeefbfghg eefbfghgbgg) -3 (ec cbhgfggf)] TJ ET",
                _ZWREG_PAIRS, [0] * 38,
            ),
        ],
    )


def test_allzw_sweep_byte_equal_vs_live_reference(tmp_path):
    """40 seeded all-zero-width docs (the round-5 hunt behind this ran
    400 fresh-seed docs at bases 79M/80M, zero divergence after the
    reject-tail fix)."""
    _run_differential(
        tmp_path,
        [_gen_allzw_stream(random.Random(79_000_000 + s))
         for s in range(40)],
    )


def test_zero_register_streams_byte_equal_vs_live_reference(tmp_path):
    _run_differential(
        tmp_path,
        [_gen_zwreg_stream(random.Random(5150000 + s)) for s in range(30)],
    )


def test_negative_register_streams_byte_equal_vs_live_reference(tmp_path):
    _run_differential(
        tmp_path,
        [_gen_nzreg_stream(random.Random(6210000 + s)) for s in range(30)],
    )


def test_register_minimals_byte_equal_vs_live_reference(tmp_path):
    """Distilled minimal reproducers from the register hunts — one per
    closed divergence class (see RState.wreg in kernels/_ctext.c)."""
    mins = [
        # boundary flush via the page-level prevTransform fallback
        b"[(k)] TJ 0 -15 Td (C) Tj [(jB) -400 (j)] TJ",
        # zero register: flush + standalone " " at prevTransform
        b"[(C)] TJ () ' [(B) -90 (bc)] TJ",
        # null-anchor ring: a 2+ whitespace run vanishes
        b"[(kD) (Bb)] TJ",
        b"[(kD) -90 (Bb)] TJ",
        b"[(bA) -90 (Ah)] TJ",
        # absorbed negative gaps drive the register NEGATIVE
        b"[(C) 150] TJ [(jk) -180 (ab)] TJ",
        b"[(C) 62 (defg)] TJ [(hB) 86 (k)] TJ",
        b"[150 (C)] TJ (hij) ' [(hB) 62 (jk)] TJ",
        b"(B) Tj [(C)] TJ () ' [-400 (h) -180 (fg)] TJ",
        # kept single space = shouldAddWhitepsace FLUSH (register resets)
        b"[(C) 86 (D) 150 (ij)] TJ",
        b"[(C) 86 (abD) 150 (ij)] TJ",
        # a kern riding a Cf FINAL glyph is LOST (skip precedes
        # charSpacing, pdf.worker.js:36684-36687)
        b"(C) Tj [-180 -180] TJ [300] TJ [(E) -180 (k)] TJ",
        b"(B) Tj [(C)] TJ (k) ' [-400 (E) -180 (g)] TJ",
        # anchored-contribution rule (internal gaps absorb only with a
        # prevTransform): CR flush at the right register value
        b"(k) ' 0 -12 Td (dAg) Tj (C) Tj [150 (fGg)] TJ",
    ]
    _run_differential(
        tmp_path,
        [
            _assemble_with_tounicode(
                b"BT /F1 12 Tf 1 0 0 1 72 700 Tm " + m + b" ET",
                _ZWREG_PAIRS, _ZWREG_W,
            )
            for m in mins
        ],
    )


def test_lgap_trailing_space_and_clip_anchor_byte_equal_vs_live_reference(
    tmp_path,
):
    """Two classes distilled from round-4 fresh-seed hunts:

    1. letter-gap join before a TRAILING real space: pdf.js's compare
       never runs at a space glyph, so no fake space lands between the
       last real glyph and a trailing space — a joined 2-run made the
       pend machinery vanish a space the reference keeps
       (the C pendj_ withhold).
    2. leading box-rejected glyphs advance width-only with NO compare:
       the item anchors at its first VISIBLE glyph — anchoring at the clipped item start flipped a +7.51 fake-space
       advance into a -3.61 carriage return.
    """
    mins = [
        # class 1: lgap + trailing space + TJ kern (d0316 distillate)
        b"/F1 8 Tf 1.50 Tc [(a ) 567 (c)] TJ",
        b"/F1 8 Tf 1.50 Tc [(sigma ) 567 (chi)] TJ",
        b"/F1 8 Tf 1.50 Tc [(a ) 500 (c)] TJ",
        b"/F1 8 Tf 1.50 Tc [(a ) 700 (c)] TJ",
        b"/F1 8 Tf 1.50 Tc [(ab ) 567 (c)] TJ",
        b"/F1 8 Tf 1.50 Tc (a ) Tj [567 (c)] TJ",
        b"/F1 8 Tf 0.00 Tc (phi) Tj 1.50 Tc (beta  x) Tj "
        b"[(sigma ) 567 (chi)] TJ",
        # class 2: leading clipped glyphs anchor at first visible
        # glyph (d0126 distillate; mirror moves the pen left of vb0)
        b"/F1 10 Tf -50 Tz (epsi) Tj 200 Tz (delta) Tj",
        b"/F1 10 Tf -50 Tz (epsi gamma) Tj 0.5 Tc q 200 Tz (delta) Tj Q",
        b"/F1 10 Tf -50 Tz (epsi gamma) Tj 2 Tc 0.5 Tc q 200 Tz "
        b"(delta) Tj Q -120 Tz 1 0 0 1 190 433 Tm (delta zeta) Tj",
    ]
    _run_differential(
        tmp_path,
        [_assemble(b"BT " + m + b" ET") for m in mins],
    )


def test_tzneg_register_flip_byte_equal_vs_live_reference(tmp_path):
    """The mirrored-item register flip (hunt seed 10,290,007 minimal):
    the item opens LTR, `-80 Tz` mirrors mid-item, and the width
    register — which accumulates SIGNED scaledDim (pdf.js
    width += scaledDim after scaledDim *= textHScale,
    pdf.worker.js:36718-36721) while the rotate-180 compare frame keeps
    advances positive — crosses zero exactly at the last glyph pair:
    textOrientation flips to -1 and the +1.6 advance falls into the
    flipped CR window (advanceX < +0.2*fs), gluing 'mm' where the
    positive cascade had been spacing 'a m'. A positive-magnitude
    register stand-in keeps the orientation +1 and emits 'a m m'."""
    streams = [
        b"BT /F1 10 Tf [(epsi) 144 (zeta)] TJ [(epsi) -56 (gamma)] TJ"
        b" [(delta) 243 (epsi)] TJ 2 Tc -80 Tz [(epsi) 196 (gamma)] TJ ET",
        b"BT /F1 10 Tf [(delta) 243 (epsi)] TJ"
        b" 2 Tc -80 Tz [(epsi) 196 (gamma)] TJ ET",
        # flip via Tj (the _show_glyphs non-TJ entry)
        b"BT /F1 10 Tf (deltaepsi) Tj 2 Tc -80 Tz (epsigamma) Tj ET",
        # already-mirrored open: register negative from glyph one
        b"BT /F1 10 Tf 100 0 Td 2 Tc -80 Tz [(epsi) 196 (gamma)] TJ ET",
    ]
    docs = [_assemble(s) for s in streams] + [
        _gen_tzneg_stream(random.Random(10_290_007)),
        _gen_tzneg_stream(random.Random(10_290_000)),
    ]
    _run_differential(tmp_path, docs)


def test_lgap_leading_space_boundary_byte_equal_vs_live_reference(tmp_path):
    """Letter-gap joins spare the LEADING real-space run (hunt seed
    12,680,020 minimal): under big-Tc the gap between an item's leading
    space glyph and its first real glyph belongs to the BOUNDARY
    compare — pdf.js's whitespace branch skips the compare at the space
    and the next real glyph's advance spans the space's translate, so a
    trailing TJ kern can land that advance in the tracking band where
    shouldAddWhitepsace (ring ['x', ' ']) flushes a real space. A
    joined leading 2-run reads as ring [' ', ' '] and vanishes it."""
    streams = [
        b"BT /F1 10 Tf 1 0 0 1 40 700 Tm 6.500 Tc [(i) 1500] TJ ( i) Tj ET",
        b"BT /F1 10 Tf 1 0 0 1 40 700 Tm 6.500 Tc [(ii) 1500] TJ ( i) Tj ET",
        b"BT /F1 10 Tf 1 0 0 1 40 700 Tm 6.500 Tc [(psi) 1500] TJ"
        b" ( iot ) Tj ET",
        # band sweep around the distilled kern: tracking / in-flow / CR
        b"BT /F1 10 Tf 1 0 0 1 40 700 Tm 6.500 Tc [(i) 1200] TJ ( i) Tj ET",
        b"BT /F1 10 Tf 1 0 0 1 40 700 Tm 6.500 Tc [(i) 2000] TJ ( i) Tj ET",
        # two-space lead: the ring really is [' ',' '] — no space
        b"BT /F1 10 Tf 1 0 0 1 40 700 Tm 6.500 Tc [(i) 1500] TJ (  i) Tj ET",
        # left-clip variant from the original hunt doc
        b"BT /F1 10 Tf 1 0 0 1 -10 700 Tm 6.500 Tc (alp delt ze) Tj"
        b" [-700 (pi) (psi) 1500] TJ ( iot  del ) Tj ET",
    ]
    docs = [_assemble(s) for s in streams] + [
        _assemble(_gen_clipseg_stream(random.Random(12_680_020))),
    ]
    _run_differential(tmp_path, docs)


def _gen_combo_stream(rng: random.Random) -> bytes:
    """Interaction soup over the classes where the round-4 continuation
    hunts found real divergences: Tz mirror flips x charSpacing bands x
    TJ edge kerns x leading/trailing-space strings x Ts toggles x
    clip-edge anchors x mid-item scale changes x font-change flushes.
    Knife-edge guards: tc*|tz| stays off the 0.6/-0.2 * fs boundaries
    (see _tc_knife_edge) and |tz| avoids values where an n-space run's
    width lands exactly on spaceInFlowMax (n * 0.25 * |tz|/100 == 0.6 —
    verified live: at 120 Tz a 2-space run decides BOTH ways in pdf.js
    depending on position ulps; +/-1 Tz off it both engines agree)."""
    words = ["alp", "bet", "gam", "del", "eps", "zet", "io", "kap"]

    def tc_ok(tc, fs, tz):
        r = tc * abs(tz) / 100.0 / fs
        return abs(r - 0.6) > 1e-6 and abs(r + 0.2) > 1e-6

    fs = rng.choice([8, 10, 12, 24])
    ops = [b"BT /F%d %d Tf" % (rng.choice([1, 2]), fs)]
    x0 = rng.choice([-15, -5, 0, 40, 200, 560])
    ops.append(b"1 0 0 1 %d %d Tm" % (x0, rng.randrange(150, 700)))
    tz = 100
    for _ in range(rng.randrange(4, 12)):
        k = rng.randrange(13)
        if k == 0:
            tz = rng.choice([-85, -100, -125, 85, 100, 130])
            ops.append(b"%d Tz" % tz)
        elif k == 1:
            while True:
                tc = rng.choice([0, 0.4, 0.9, 1.5, 2, 6.5, 7.3, 9, 15, 18,
                                 -1.5, -3])
                if tc_ok(tc, fs, tz):
                    break
            ops.append(b"%s Tc" % str(tc).encode())
        elif k == 2:
            ops.append(
                b"%s Ts" % str(rng.choice([0, 0.4, -1.2, 2.5])).encode()
            )
        elif k == 3:
            parts = []
            for _ in range(rng.randrange(1, 4)):
                if rng.random() < 0.45:
                    parts.append(b"%d" % rng.choice(
                        [-700, -300, 180, 567, 1200, 1500, 2000]))
                w = rng.choice(words)
                sp = rng.random()
                if sp < 0.25:
                    w = " " + w
                elif sp < 0.45:
                    w = w + " "
                elif sp < 0.55:
                    w = " " + w + "  "
                parts.append(b"(%s)" % w.encode())
            if rng.random() < 0.5:
                parts.append(b"%d" % rng.choice([1500, 567, -400, 2000]))
            ops.append(b"[" + b" ".join(parts) + b"] TJ")
        elif k == 4:
            w = rng.choice(words)
            lead = " " * rng.randrange(0, 3)
            trail = " " * rng.randrange(0, 3)
            ops.append(b"(%s%s%s) Tj" % (lead.encode(), w.encode(),
                                         trail.encode()))
        elif k == 5:
            ops.append(b"T*" if rng.random() < 0.3
                       else b"%d -%d Td" % (rng.randrange(-30, 30),
                                            rng.choice([12, 14, 0])))
        elif k == 6 and rng.random() < 0.6:
            ops += [b"q", b"%d Tz" % rng.choice([-100, 150, 85]),
                    b"(%s ) Tj" % rng.choice(words).encode(), b"Q"]
        elif k == 7:
            s = rng.choice([6.0, 10.0, 14.0])
            ops.append(b"%.1f 0 0 %.1f %d %d Tm"
                       % (s, s, rng.choice([-10, 30, 520]),
                          rng.randrange(150, 700)))
            tz = 100 if rng.random() < 0.5 else tz
        elif k == 8:
            ops.append(b"/F%d %d Tf" % (rng.choice([1, 2]),
                                        rng.choice([8, 10, 24])))
        elif k == 10:
            # wordSpacing rides every whitespace-category glyph
            ops.append(b"%s Tw" % str(rng.choice([0, 0.8, 2.0, -1.0,
                                                  6.0])).encode())
        elif k == 11:
            # leading + quote operators (T* carriage returns included)
            ops.append(b"%s TL" % str(rng.choice([0, 11.0, 12.5,
                                                  1.2])).encode())
            w = rng.choice(words)
            q = rng.random()
            if q < 0.4:
                ops.append(b"(%s) '" % w.encode())
            elif q < 0.6:
                ops.append(b'%s %s (%s) "' % (
                    str(rng.choice([0, 1.5])).encode(),
                    str(rng.choice([0, 0.5])).encode(), w.encode()))
            else:
                ops += [b"T*", b"(%s ) Tj" % w.encode()]
        elif k == 12:
            ops.append(b"0 Tc" if rng.random() < 0.5 else b"0 Tw")
        else:
            a, b = rng.sample(words, 2)
            ops.append(b"(%s %s) Tj" % (a.encode(), b.encode()))
    ops.append(b"ET")
    return b"\n".join(ops)


def _gen_form_combo_stream(rng: random.Random) -> bytes:
    """Interaction soup INSIDE Form XObjects — the inheritance x cascade
    axis: a combo-style parent opens rich text state (Tz/Tc/Tw/TL/Ts,
    size changes, kerned TJs, edge-space strings), runs a Do mid-BT or
    post-ET (optionally inside q/Q), and continues after; the form body
    is a shortened soup that either relies on the cloned state (bare
    shows / Td-first in the lm-seed window) or overrides it, under a
    random /Matrix (identity, translate, down/up-scale). Knife-edge Tc
    bands guarded with the tracked (fs, tz) — the ratio is /Matrix-scale
    invariant."""
    words = ["alp", "bet", "gam", "del", "eps", "zet", "io", "kap"]

    def tc_ok(tc, fs, tz):
        r = tc * abs(tz) / 100.0 / fs
        return abs(r - 0.6) > 1e-6 and abs(r + 0.2) > 1e-6

    def soup(r, n, tz, fs):
        ops = []
        for _ in range(n):
            k = r.randrange(9)
            if k == 0:
                tz = r.choice([-100, 85, 100, 130])
                ops.append(b"%d Tz" % tz)
            elif k == 1:
                while True:
                    tc = r.choice([0, 0.9, 1.5, 6.5, -1.5, -3])
                    if tc_ok(tc, fs, tz):
                        break
                ops.append(b"%s Tc" % str(tc).encode())
            elif k == 2:
                ops.append(
                    b"%s Ts" % str(r.choice([0, 0.4, -1.2, 2.5])).encode()
                )
            elif k == 3:
                parts = []
                for _ in range(r.randrange(1, 3)):
                    if r.random() < 0.45:
                        parts.append(
                            b"%d" % r.choice([-700, 180, 567, 1500])
                        )
                    w = r.choice(words)
                    sp = r.random()
                    if sp < 0.25:
                        w = " " + w
                    elif sp < 0.45:
                        w = w + " "
                    parts.append(b"(%s)" % w.encode())
                ops.append(b"[" + b" ".join(parts) + b"] TJ")
            elif k == 4:
                ops.append(
                    b"%s Tw" % str(r.choice([0, 0.8, 2.0])).encode()
                )
            elif k == 5:
                ops.append(b"%s TL" % str(r.choice([11.0, 12.5])).encode())
                qq = r.random()
                if qq < 0.4:
                    ops.append(b"(%s) '" % r.choice(words).encode())
                elif qq < 0.6:
                    # tc 0.5 stays far from both bands at every fs/tz here
                    ops.append(b'1.5 0.5 (%s) "' % r.choice(words).encode())
                else:
                    ops.append(b"T*")
            elif k == 6:
                ops.append(
                    b"T*" if r.random() < 0.3
                    else b"%d -%d Td" % (r.randrange(-20, 20),
                                         r.choice([12, 0]))
                )
            else:
                lead = " " * r.randrange(0, 2)
                trail = " " * r.randrange(0, 3)
                ops.append(b"(%s%s%s) Tj" % (lead.encode(),
                                             r.choice(words).encode(),
                                             trail.encode()))
        return ops, tz, fs

    fs = rng.choice([8, 12, 24])
    tz = 100
    outer = [
        b"BT", b"/F1 %d Tf" % fs,
        b"1 0 0 1 %d %d Tm" % (rng.choice([0, 40, 200]),
                               rng.randrange(200, 700)),
    ]
    o, tz, fs = soup(rng, rng.randrange(2, 6), tz, fs)
    outer += o
    do = [b"q", b"/Fm Do", b"Q"] if rng.random() < 0.4 else [b"/Fm Do"]
    if rng.random() < 0.5:
        outer += do
        o2, tz, fs = soup(rng, rng.randrange(1, 5), tz, fs)
        outer += o2 + [b"ET"]
    else:
        outer += [b"ET"] + do
        if rng.random() < 0.6:
            outer += [b"BT /F1 12 Tf 1 0 0 1 72 %d Tm"
                      % rng.randrange(150, 650)]
            o2, _, _ = soup(rng, rng.randrange(1, 4), 100, 12)
            outer += o2 + [b"ET"]
    form = []
    shape = rng.randrange(4)
    ffs, ftz = fs, tz
    if shape == 0:
        # inherits everything: bare shows in the clone window
        fo, _, _ = soup(rng, rng.randrange(1, 4), ftz, ffs)
        form += fo
    elif shape == 1:
        # own BT, optionally own font/Tm
        form.append(b"BT")
        if rng.random() < 0.6:
            ffs = rng.choice([9, 11])
            form.append(b"/F1 %d Tf" % ffs)
        if rng.random() < 0.5:
            form.append(b"1 0 0 1 %d %d Tm"
                        % (rng.randrange(30, 300), rng.randrange(100, 600)))
        fo, _, _ = soup(rng, rng.randrange(2, 5), ftz, ffs)
        form += fo + [b"ET"]
    elif shape == 2:
        # Td/T*-first in the cloned-lm window, then soup
        form.append(rng.choice([b"T*", b"0 -13 Td"]))
        fo, _, _ = soup(rng, rng.randrange(1, 4), ftz, ffs)
        form += fo
    else:
        # own state override then soup
        form.append(b"%s Tc" % str(rng.choice([0, 0.9])).encode())
        ftz = rng.choice([85, 130])
        form.append(b"%d Tz" % ftz)
        fo, _, _ = soup(rng, rng.randrange(1, 4), ftz, ffs)
        form += fo
    r2 = rng.random()
    if r2 < 0.10:
        form = []  # empty form: pend/ring must round-trip untouched
    elif r2 < 0.30:
        # nested form: /Fm2 Do amid the soup (fresh closure inside a
        # fresh closure; /Fm has no /Resources so /Fm2 resolves through
        # the page's)
        at = rng.randrange(0, len(form) + 1)
        form = form[:at] + [b"/Fm2 Do"] + form[at:]
    mats = [
        b"", b"/Matrix [1 0 0 1 0 0]", b"/Matrix [1 0 0 1 50 -20]",
        b"/Matrix [0.5 0 0 0.5 100 100]", b"/Matrix [2 0 0 2 -30 10]",
        # rotation/skew: routes the page through the full-matrix
        # interpreter — closure isolation must hold there too
        b"/Matrix [0 1 -1 0 300 50]", b"/Matrix [1 0.3 0 1 0 0]",
        b"/Matrix [0 -2 2 0 -100 500]",
    ]
    mat = rng.choice(mats)
    form2 = None
    if r2 >= 0.10 and r2 < 0.30:
        f2, _, _ = soup(rng, rng.randrange(1, 3), 100, ffs)
        if rng.random() < 0.5:
            f2 = [b"BT /F1 10 Tf 1 0 0 1 %d %d Tm"
                  % (rng.randrange(30, 300), rng.randrange(100, 600))
                  ] + f2 + [b"ET"]
        form2 = (rng.choice(mats[:5]), b" ".join(f2))
    if rng.random() < 0.2:
        # double Do of the same form: each invocation reruns the body
        # in its own fresh closure
        i = next((j for j, op in enumerate(outer) if op.endswith(b"Do")),
                 None)
        if i is not None:
            outer.insert(i + 1, outer[i])
    return _assemble_with_form(mat, b" ".join(outer), b" ".join(form),
                               form2=form2)


_SHEAR_TZFLIP_STREAMS = [
    # raw equal-position shortcut across a Tz sign flip under shear:
    # pdf.js compares the RAW device translations BEFORE the rotate
    # handling (worker:36547 vs applyInverseRotation at 36551-36567),
    # and the mirrored pen returns to prevTransform exactly — 'iobet'
    # glued (form_combo hunt base 28,000,000 seed 295)
    b"BT /F1 12 Tf 1 0.3 0 1 0 0 cm 1 0 0 1 200 634 Tm -100 Tz (io) Tj"
    b" 85 Tz (bet) Tj ET",
    b"BT /F1 12 Tf 1 0.3 0 1 0 0 cm 1 0 0 1 200 634 Tm 130 Tz (io) Tj"
    b" -85 Tz (bet) Tj ET",
    b"BT /F1 12 Tf 12.5 TL 1 0.3 0 1 0 0 cm 1 0 0 1 200 634 Tm -100 Tz"
    b" T* (io) ' 85 Tz [(io) (bet)] TJ ET",
    # |hs| in applyInverseRotation's divisor: the composed matrix's
    # first column carries fontSize * textHScale, so each point's Y
    # projection scales by 1/|tz| under its OWN matrix — an |hs|
    # mismatch inflates advanceY past the item height and pdf.js
    # appendEOLs ('io\nbet', no space)
    b"BT /F1 12 Tf 1 0.3 0 1 0 0 cm 1 0 0 1 200 634 Tm -100 Tz (io ) Tj"
    b" 85 Tz ( bet) Tj ET",
    b"BT /F1 12 Tf 1 0.3 0 1 0 0 cm 1 0 0 1 200 634 Tm -100 Tz (io) Tj"
    b" 85 Tz 5 0 Td (bet) Tj ET",
    b"BT /F1 12 Tf 1 0.3 0 1 0 0 cm 1 0 0 1 200 634 Tm 60 Tz"
    b" (io kap) Tj 145 Tz ( bet zet) Tj ET",
    b"BT /F1 12 Tf 0.9 0.4 -0.2 1.1 0 0 cm 1 0 0 1 150 500 Tm 70 Tz"
    b" (alp) Tj 6 Ts 130 Tz (del ) Tj 0 Ts (eps) Tj ET",
    # controls: no flip / no shear-scale change
    b"BT /F1 12 Tf 1 0.3 0 1 0 0 cm 1 0 0 1 200 634 Tm 85 Tz (io) Tj"
    b" (bet) Tj ET",
    b"BT /F1 12 Tf 1 0.3 0 1 0 0 cm 1 0 0 1 200 634 Tm -100 Tz (io) Tj"
    b" (bet) Tj ET",
]


_ADVANCE_RESCALE_STREAMS = [
    # updateAdvanceScale rescales the OPEN item's advance divisor:
    # pdf.js divides advanceX by the item's textAdvanceScale, which a
    # mid-item Tm scale change sets to the NEW scale while the
    # fontSize-based windows stay — an internal space run that is
    # in-flow under the old scale leaves the window under the new one
    # (rotated 'delta' + 0.75-scale Tm + 3-space run reads
    # 'deltaxi\n omicron'; rotstate hunt base 34,050,068)
    b"BT /F1 8 Tf 80.0 Tz 0.00 -1.00 1.00 0.00 300.1 378.2 Tm (delta)"
    b" Tj 0.75 0.00 0.00 0.75 300.1 364.2 Tm 1.2 Ts (xi   omicron) Tj"
    b" ET",
    b"BT /F1 8 Tf 80.0 Tz 0.00 -1.00 1.00 0.00 300.1 378.2 Tm (delta)"
    b" Tj 0.75 0.00 0.00 0.75 300.1 364.2 Tm (xi   omicron) Tj ET",
    b"BT /F1 8 Tf 80.0 Tz 0.75 0 0 0.75 300.1 378.2 Tm (delta) Tj"
    b" 1.5 0.00 0.00 1.5 300.1 364.2 Tm (xi  omicron) Tj ET",
    b"BT /F1 8 Tf 80.0 Tz 1 0 0 1 300.1 378.2 Tm (delta) Tj"
    b" 0.75 0.00 0.00 0.75 300.1 364.2 Tm (xi   omicron) Tj ET",
    b"BT /F1 8 Tf 1 0 0 1 100 378.2 Tm (delta) Tj"
    b" 0.6 0 0 0.6 100 364.2 Tm (xi  omicron) Tj ET",
    # control: same scale on both Tm's
    b"BT /F1 8 Tf 80.0 Tz 0.75 0 0 0.75 300.1 378.2 Tm (delta) Tj"
    b" 0.75 0.00 0.00 0.75 300.1 364.2 Tm (xi   omicron) Tj ET",
]


def test_advance_rescale_byte_equal_vs_live_reference(tmp_path):
    """Mid-item Tm scale change rescales the open item's advance
    thresholds (updateAdvanceScale divisor), all three engine paths."""
    docs = [_assemble(s) for s in _ADVANCE_RESCALE_STREAMS] + [
        _assemble(_gen_rotated_state_stream(random.Random(34_050_068)))
    ]
    _run_differential(tmp_path, docs)


def _gen_skew_tz_stream(rng: random.Random) -> bytes:
    """Shear/anisotropic cm x varied |Tz| (the applyInverseRotation
    per-point |hs| divisor axis): mid-line Tz magnitude AND sign
    changes under rotate == -1 frames, with rise/Tc/Td/kerned-TJ/
    edge-space interactions."""
    words = ["alp", "bet", "gam", "del", "eps", "zet", "io", "kap"]
    cmv = rng.choice([
        b"1 0.3 0 1 0 0", b"1 -0.2 0.15 1 0 0", b"0.9 0.4 -0.2 1.1 0 0",
        b"1 0.05 0 1 0 0", b"2 0.5 0 0.7 30 10",
    ])
    ops = [b"BT /F1 %d Tf" % rng.choice([8, 12, 24]),
           b"%s cm" % cmv,
           b"1 0 0 1 %d %d Tm" % (rng.randrange(50, 350),
                                  rng.randrange(200, 650))]
    for _ in range(rng.randrange(3, 9)):
        k = rng.randrange(6)
        if k == 0:
            ops.append(b"%d Tz" % rng.choice([-130, -100, -85, -60, 60,
                                              85, 100, 130, 145]))
        elif k == 1:
            ops.append(b"%s Ts" % str(rng.choice([0, 3, -4])).encode())
        elif k == 2:
            ops.append(b"%s Tc" % str(rng.choice([0, 0.5, 2])).encode())
        elif k == 3:
            ops.append(b"%d %d Td" % (rng.randrange(-20, 25),
                                      rng.choice([0, -13])))
        elif k == 4:
            parts = []
            for _ in range(rng.randrange(1, 3)):
                if rng.random() < 0.4:
                    parts.append(b"%d" % rng.choice([-500, 300, 1200]))
                w = rng.choice(words)
                if rng.random() < 0.3:
                    w = " " + w + " "
                parts.append(b"(%s)" % w.encode())
            ops.append(b"[" + b" ".join(parts) + b"] TJ")
        else:
            lead = " " * rng.randrange(0, 2)
            trail = " " * rng.randrange(0, 3)
            ops.append(b"(%s%s%s) Tj" % (lead.encode(),
                                         rng.choice(words).encode(),
                                         trail.encode()))
    ops.append(b"ET")
    return b"\n".join(ops)


def test_skew_tz_sweep_byte_equal_vs_live_reference(tmp_path):
    """40 seeded shear x varied-Tz docs (400 hunted at base 30M after
    the |hs| divisor fix, zero divergence)."""
    _run_differential(
        tmp_path,
        [_assemble(_gen_skew_tz_stream(random.Random(30_000_000 + s)))
         for s in range(40)],
    )


def test_shear_tzflip_equal_position_byte_equal_vs_live_reference(
    tmp_path,
):
    """Raw equal-position shortcut + per-point |hs| Y-divisor under
    shear (rotate == -1) with mid-line Tz magnitude/sign changes."""
    docs = [_assemble(s) for s in _SHEAR_TZFLIP_STREAMS] + [
        _gen_form_combo_stream(random.Random(28_000_295))
    ]
    _run_differential(tmp_path, docs)


def test_form_combo_interaction_byte_equal_vs_live_reference(tmp_path):
    """40 seeded form x combo docs (soup inside Form XObjects under the
    full inheritance machinery, incl. empty/nested/double-Do forms and
    rotated /Matrix values)."""
    _run_differential(
        tmp_path,
        [_gen_form_combo_stream(random.Random(27_000_000 + s))
         for s in range(40)],
    )


def test_combo_interaction_byte_equal_vs_live_reference(tmp_path):
    """40 seeded interaction-soup docs (the continuation hunts ran 1,400+
    at neighbouring seeds after the fixes, zero divergence)."""
    _run_differential(
        tmp_path,
        [
            _assemble(_gen_combo_stream(random.Random(20_200_000 + s)))
            for s in range(40)
        ],
    )


def test_scaleflush_clip_standalone_space_byte_equal_vs_live_reference(
    tmp_path,
):
    """Scale-flush boundary meeting clip rejection (combo hunt seed
    20,100,542 minimal): a mid-item Tm scale change zeroes the width
    register, a font change flushes the item, and the next show's
    LEADING glyph is box-rejected at the left edge — the kept glyph's
    compare then runs at textOrientation 0 with the STALE advance scale
    and pushes the standalone space at the OLD prevTransform (before
    the y-jump newline). The C replay defers this configuration to the
    Python model. Plus the case-1 off-boundary Tz variants (both sides
    of the space-run knife edge, where the engines must agree)."""
    streams = [
        b"BT /F2 24 Tf 1 0 0 1 -5 676 Tm (io kap) Tj 0 Tc"
        b" 10.0 0 0 10.0 -10 451 Tm /F2 8 Tf /F1 10 Tf 2.5 Ts T*"
        b" 14.0 0 0 14.0 -10 648 Tm 0.9 Tc (kap) Tj 0 Ts ET",
        b"BT /F2 12 Tf 1 0 0 1 -5 344 Tm (del kap) Tj -1.2 Ts"
        b" -119 Tz (  kap  ) Tj ET",
        b"BT /F2 12 Tf 1 0 0 1 -5 344 Tm (del kap) Tj -1.2 Ts"
        b" -121 Tz (  kap  ) Tj ET",
    ]
    docs = [_assemble(s) for s in streams]
    _run_differential(tmp_path, docs)


def test_stale_bands_and_equal_position_byte_equal_vs_live_reference(
    tmp_path,
):
    """Two classes the combo hunt caught at base 20.8M:

    (1) STALE ITEM BANDS (seed 20,800,184 minimal): ensureTextContentItem
    freezes the cascade thresholds; a font-change flush does NOT refresh
    them until the buffer's first real glyph re-ensures — a TJ leading
    kern right after '/F2 8 Tf' still compares against the fs-24 item's
    tracking window (2.4 <= 0.102*24 absorbs; with fs-8 bands it would
    read as an in-flow space). The staleness window is exactly tj_bpend.

    (2) EQUAL-POSITION SHORTCUT (seed 20,800,349 minimal): with
    '-1.5 Tc', the -1.5 charSpacing translate and the +1.5 space-glyph
    translate cancel EXACTLY at the pen's magnitude, pdf.js's
    lastPosX === posX shortcut fires, and the ring space materializes at
    the append ('del zet'). The walk pen is accumulative in pdf.js's
    per-glyph add order — a closed-form position sum groups terms
    differently and leaves ulp dust that misses the shortcut."""
    streams = [
        b"BT /F1 24 Tf 1 0 0 1 40 340 Tm (gam) Tj /F2 8 Tf"
        b" [-300 (bet)] TJ ET",
        b"BT /F2 8 Tf 1 0 0 1 40 340 Tm (gam) Tj /F1 24 Tf"
        b" [-300 (bet)] TJ ET",
        b"BT /F1 24 Tf 1 0 0 1 40 340 Tm (gam) Tj /F2 8 Tf"
        b" [-900 (bet)] TJ ET",
        b"BT /F1 24 Tf 1 0 0 1 0 340 Tm (io gam) Tj 2.5 Ts /F2 8 Tf 0 Ts"
        b" [-300 (bet) (kap ) 180 (gam)] TJ (zet kap) Tj q 150 Tz (io ) Tj"
        b" Q /F1 8 Tf (zet io) Tj ( io ) Tj ET",
        b"BT /F2 12 Tf 1 0 0 1 200 577 Tm -1.5 Tc (del zet) Tj ET",
        b"BT /F2 12 Tf 1 0 0 1 200 577 Tm -1.5 Tc (del zet) Tj -8 -0 Td"
        b" [-300 (kap) 1500] TJ 26 -0 Td (del alp) Tj ET",
        b"BT /F2 12 Tf 1 0 0 1 200 577 Tm -1.5 Tc (del alp) Tj 26 -0 Td"
        b" (x) Tj ET",
    ]
    docs = [_assemble(s) for s in streams] + [
        _assemble(_gen_combo_stream(random.Random(seed)))
        for seed in (20_800_184, 20_800_349)
    ]
    _run_differential(tmp_path, docs)


_CLOSED_PREV_STREAMS = [
    # the divergent shape: leading-space item with a trailing space at
    # tc == -space_width/2 (the trailing space's +w and the two tc
    # translates cancel ANALYTICALLY, so pdf.js's lastPosX === posX
    # shortcut fires and the pend1 ring space materializes: 'zet kap')
    b"BT /F2 24 Tf 1 0 0 1 200 404 Tm -3 Tc (  zet ) Tj (kap) Tj ET",
    b"BT /F2 24 Tf 1 0 0 1 200 404 Tm -3 Tc ( zet ) Tj (kap) Tj ET",
    # no leading space: BOTH engines' closed-form chains leave ulp dust
    # (adv = -2.8e-14), the shortcut misses, notASpace glues — the
    # engines must agree on the miss too
    b"BT /F2 24 Tf 1 0 0 1 200 404 Tm -3 Tc (zet ) Tj (kap) Tj ET",
    # off-cancellation controls on both sides of the band
    b"BT /F2 24 Tf 1 0 0 1 200 404 Tm -2.9 Tc (  zet ) Tj (kap) Tj ET",
    b"BT /F2 24 Tf 1 0 0 1 200 404 Tm -2.6 Tc (  zet ) Tj (kap) Tj ET",
    b"BT /F2 24 Tf 1 0 0 1 200 404 Tm -4 Tc (  zet ) Tj (kap) Tj ET",
    # anchored variant: a prior item opens the line first
    b"BT /F2 24 Tf 1 0 0 1 200 404 Tm ( io) Tj -3 Tc (  zet ) Tj"
    b" (kap) Tj ET",
]


def test_closed_form_prev_equal_position_byte_equal_vs_live_reference(
    tmp_path,
):
    """Closed-form prevTransform/first-x in the C inline path (combo
    hunt base 22,000,000 seed 17): the former Python tier derived
    last_end_x and the first-glyph compare x from the CLOSED-FORM
    prefix advance, and the equal-position
    shortcut (adv == 0.0 exactly) only fires when tx (the closed-form
    cur_x chain) and last_end_x share that arithmetic. The C replay's
    accumulative walk left ulp dust (lastx 227.98400000000001 vs tx
    227.98399999999998) and glued 'zetkap' where the reference emits
    'zet kap'. rp_decode now exports the closed-form twins for clean
    inline items (split/clipped/zw paths keep the accumulative
    values)."""
    docs = [_assemble(s) for s in _CLOSED_PREV_STREAMS] + [
        _assemble(_gen_combo_stream(random.Random(22_000_017)))
    ]
    _run_differential(tmp_path, docs)


# ---- JS value-coercion tier (kernels/jsvm.py) ----------------------------
# A non-numeric operand in a numeric text-state slot routes the page to the
# faithful JS-semantics interpreter (jsvm.JsVM with the document
# charsCache): raw slot stores, per-use-site ToNumber/ToString coercion,
# "5"+0 == "50" concat in charSpacing + extraSpacing, NaN position
# cascades through addFakeSpaces. Pinned probes (live-node verified, the
# cm rows added since) + a seeded sweep.

_COERCE_PINNED = [
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (5) Tc (gamma) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm [5] Tc (gamma) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm [1 2] Tc (gamma) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm << /X 1 >> Tc (gamma) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (xy) Tc (gamma) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm /Five Tc (gamma) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (7) Tw (a b c) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm [5] TL (alpha) Tj T* (beta) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (xy) TL (alpha) Tj (beta) ' ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (50) Tz (gamma) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (xy) Tz (gamma) Tj (beta) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (xy) Ts (gamma) Tj (beta) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (alpha) Tj (xy) 5 Td (beta) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (alpha) Tj 5 (xy) Td (beta) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (alpha) Tj 5 (xy) TD (beta) Tj T* "
    b"(rho) Tj ET",
    b"BT /F1 10 Tf (alpha) Tj 1 0 0 1 (xy) 700 Tm (beta) Tj (rho) Tj ET",
    b"BT /F1 10 Tf (xy) 0 0 1 72 700 Tm (beta) Tj (rho) Tj ET",
    b"BT /F1 (xy) Tf 1 0 0 1 72 700 Tm (gamma) Tj (beta) Tj ET",
    b"BT /F1 (12) Tf 1 0 0 1 72 700 Tm (gamma) Tj (beta) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm 12 TL (xy) (7) (gamma) \" (beta) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (xy) Tc (gamma) Tj 0 Tc (beta) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (5) Tc [(ga) -120 (mma)] TJ ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (xy) Tw (a b) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm () Tc (gamma) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm [] Tc (gamma) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm ( 5 ) Tc (gamma) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (-3) Tc (gamma) Tj ET",
    # non-numeric cm operands: Util.transform coerces them like the
    # text-state slots
    b"q (xy) 0 0 1 0 0 cm BT /F1 10 Tf 1 0 0 1 72 700 Tm (gamma) Tj ET Q",
    b"q 1 0 0 1 (5) 0 cm BT /F1 10 Tf 1 0 0 1 72 700 Tm (gamma) Tj"
    b" (beta) Tj ET Q",
    b"q [2] 0 0 1 0 0 cm BT /F1 10 Tf 1 0 0 1 72 700 Tm (gamma) Tj ET Q",
    b"q 1 0 0 1 0 /Five cm BT /F1 10 Tf 1 0 0 1 72 700 Tm (gamma) Tj"
    b" (beta) Tj ET Q",
    b"q true 0 0 1 0 0 cm BT /F1 10 Tf 1 0 0 1 72 700 Tm (gamma) Tj ET Q",
    b"q 1 0 0 1 (xy) 20 cm BT /F1 10 Tf 1 0 0 1 72 700 Tm (al be) Tj"
    b" 0 -20 Td (ga de) Tj ET Q",
]

# operand universe for numeric slots: strings that ToNumber to numbers
# (incl. hex / exponent / signed-Infinity grammar and trimmed padding),
# strings that ToNumber to NaN, arrays (join), dicts / Names
# ("[object Object]"), booleans, hex strings, and plain numbers so the
# sweep also crosses coercing and non-coercing ops in one page
_COERCE_VALUES = [
    b"(5)", b"(-3.5)", b"( 12 )", b"(xy)", b"()", b"(0x14)", b"(1e2)",
    b"(.5)", b"(Infinity)", b"(-Infinity)", b"[5]", b"[1 2]", b"[]",
    b"[(7)]", b"[(2) (3)]", b"<< /X 1 >>", b"/Five", b"true", b"false",
    b"<35>", b"( )", b"(5px)", b"2", b"-40", b"0", b"/5", b"/7",
]


def _gen_coerce_stream(rng: random.Random) -> bytes:
    def val() -> bytes:
        return rng.choice(_COERCE_VALUES)

    def num() -> bytes:
        return b"%.1f" % rng.choice([0.0, 0.4, 1.5, 5.0, -11.0, 30.0])

    ops = [b"BT"]
    if rng.random() < 0.15:
        ops.append(b"/F1 %s Tf" % val())
    else:
        ops.append(b"/F1 %d Tf" % rng.choice([8, 10, 12]))
    ops.append(b"1 0 0 1 72 700 Tm")
    for _ in range(rng.randrange(5, 12)):
        kind = rng.randrange(10)
        if kind == 0:
            ops.append(b"%s Tc" % (val() if rng.random() < 0.7 else num()))
        elif kind == 1:
            ops.append(b"%s Tw" % (val() if rng.random() < 0.7 else num()))
        elif kind == 2:
            ops.append(b"%s Tz" % (val() if rng.random() < 0.5
                                   else rng.choice([b"80", b"100", b"120"])))
        elif kind == 3:
            ops.append(b"%s TL" % (val() if rng.random() < 0.5 else b"12"))
            ops.append(rng.choice([b"T*", b"(%s) '" % rng.choice(WORDS).encode()]))
        elif kind == 4:
            ops.append(b"%s Ts" % (val() if rng.random() < 0.6 else num()))
        elif kind == 5:
            a = val() if rng.random() < 0.5 else num()
            b = val() if rng.random() < 0.5 else num()
            ops.append(b"%s %s %s" % (a, b, rng.choice([b"Td", b"TD"])))
        elif kind == 6:
            cells = [num() for _ in range(6)]
            cells[rng.randrange(6)] = val()
            if rng.random() < 0.3:
                cells[rng.randrange(6)] = val()
            ops.append(b" ".join(cells) + b" Tm")
        elif kind == 7:
            ops.append(b"%s %s (%s) \"" % (
                val() if rng.random() < 0.6 else num(),
                val() if rng.random() < 0.6 else num(),
                rng.choice(WORDS).encode()))
            continue
        elif kind == 8 and rng.random() < 0.4:  # junk cm (Util.transform)
            cells = [b"1", b"0", b"0", b"1", num(), num()]
            cells[rng.randrange(6)] = val()
            ops.append(b" ".join(cells) + b" cm")
        elif kind == 8:  # font switch, sometimes junk size / non-Name name
            r = rng.random()
            if r < 0.3:
                ops.append(b"/F%d %s Tf" % (rng.choice([1, 2]), val()))
            elif r < 0.45:
                ops.append(b"(F1) %d Tf" % rng.choice([9, 10]))
            else:
                ops.append(b"/F%d %d Tf" % (rng.choice([1, 2]),
                                            rng.choice([9, 10, 12, -40])))
        else:  # recovery to numeric state mid-page
            ops.append(rng.choice([b"0 Tc", b"0 Tw", b"100 Tz", b"0 Ts",
                                   b"1 0 0 1 72 %d Tm" % rng.randrange(300, 700)]))
        show = rng.randrange(3)
        if show == 0:
            ops.append(b"(%s) Tj" % " ".join(
                rng.sample(WORDS, rng.randrange(1, 3))).encode())
        elif show == 1:
            parts = []
            for _ in range(rng.randrange(1, 3)):
                parts.append(b"(%s)" % rng.choice(WORDS).encode())
                parts.append(b"%d" % rng.choice([-300, -120, 120]))
            ops.append(b"[" + b" ".join(parts[:-1]) + b"] TJ")
    if rng.random() < 0.3:
        ops += [b"ET", b"q", b"BT", b"/F1 10 Tf",
                b"1 0 0 1 72 360 Tm",
                b"%s Tc" % val(),
                b"(%s) Tj" % rng.choice(WORDS).encode(),
                b"ET", b"Q", b"BT"]
    ops.append(b"ET")
    return b"\n".join(ops)


def test_coerce_pinned_byte_equal_vs_live_reference(tmp_path):
    _run_differential(tmp_path, [_assemble(s) for s in _COERCE_PINNED])


def test_coerce_sweep_byte_equal_vs_live_reference(tmp_path):
    _run_differential(
        tmp_path,
        [_assemble(_gen_coerce_stream(random.Random(910000 + s)))
         for s in range(40)],
    )


def test_coerce_through_forms_byte_equal_vs_live_reference(tmp_path):
    """Coercion x Form XObject interplay: raw junk slots cloned INTO the
    form's sub-state, junk confined INSIDE the form (outer text after Do
    must be unpoisoned — the stateManager clone isolates), a junk form
    /Matrix cell (lookupMatrix -> null, matrix skipped), junk cm around
    the Do, and junk leading consumed by T* inside the form. A form the
    C path cannot take sends the WHOLE page through jsvm, which recurses
    into forms itself."""
    _run_differential(
        tmp_path,
        [
            _assemble_with_form(
                b"", b"BT /F1 10 Tf (xy) Tc 1 0 0 1 72 700 Tm ET /Fm Do",
                b"BT /F1 10 Tf 1 0 0 1 72 650 Tm (gamma) Tj ET"),
            _assemble_with_form(
                b"", b"BT /F1 10 Tf (5) Ts 1 0 0 1 72 700 Tm (page) Tj "
                b"ET /Fm Do",
                b"BT 1 0 0 1 72 650 Tm (inherited) Tj ET"),
            _assemble_with_form(
                b"", b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (before) Tj ET "
                b"/Fm Do BT /F1 10 Tf 1 0 0 1 72 600 Tm (after) Tj ET",
                b"BT /F1 10 Tf (xy) Tw 1 0 0 1 72 650 Tm (in form) Tj ET"),
            _assemble_with_form(
                b"/Matrix [1 0 0 1 (xy) 0]",
                b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (before) Tj ET /Fm Do",
                b"BT /F1 10 Tf 1 0 0 1 72 650 Tm (in form) Tj ET"),
            _assemble_with_form(
                b"", b"q (xy) 0 0 1 0 0 cm /Fm Do Q "
                b"BT /F1 10 Tf 1 0 0 1 72 600 Tm (after) Tj ET",
                b"BT /F1 10 Tf 1 0 0 1 72 650 Tm (in form) Tj ET"),
            _assemble_with_form(
                b"", b"BT /F1 10 Tf [9] TL 1 0 0 1 72 700 Tm (page) Tj "
                b"ET /Fm Do",
                b"BT /F1 10 Tf 1 0 0 1 72 650 Tm (l1) Tj T* (l2) Tj ET"),
        ],
    )


def _assemble_with_gsfont(size_tok: bytes) -> bytes:
    """Page whose ONLY font set comes from an ExtGState /Font entry with
    an arbitrary (possibly junk) size token."""
    content = b"/GS1 gs BT 1 0 0 1 72 700 Tm (gamma) Tj (beta) Tj ET"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 4 0 R >> "
        b"/ExtGState << /GS1 << /Font [4 0 R " + size_tok + b"] >> >> >> "
        b"/Contents 6 0 R >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, o)
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offs:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref)
    return bytes(out)


def test_coerce_gs_raw_size_byte_equal_vs_live_reference(tmp_path):
    """setGState stores gStateFont[1] RAW (pdf.worker.js:37061): a junk
    size still sets the font; NaN advances are falsy, so prevTransform
    never updates and every glyph JOINS ('gammabeta', not 'g a m m a').
    String sizes coerce per JS ToNumber at each use site."""
    _run_differential(
        tmp_path,
        [_assemble_with_gsfont(t)
         for t in (b"(10)", b"(xy)", b"[10]", b"/12", b"( 8 )", b"()")],
    )


def test_coerce_array_show_operand_byte_equal_vs_live_reference(tmp_path):
    """charsToGlyphs over an ARRAY operand throws (no .charCodeAt):
    the page stops with partial text — but an error INSIDE a form stops
    only the form (paintXObject's ignoreErrors catch), and an extra
    array that slides into the nonProcessedArgs stash does NOT throw."""
    _run_differential(
        tmp_path,
        [
            _assemble(b"BT /F1 10 Tf 1 0 0 1 72 700 Tm [(a)] Tj "
                      b"(post) Tj ET"),
            _assemble(b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (pre) Tj [(a)] Tj "
                      b"(post) Tj ET"),
            _assemble(b"BT /F1 10 Tf 1 0 0 1 72 700 Tm [(a)] (x) Tj "
                      b"(post) Tj ET"),
            _assemble(b"BT /F1 10 Tf 12 TL 1 0 0 1 72 700 Tm (a) Tj "
                      b"[(q)] ' (post) Tj ET"),
            _assemble(b"BT /F1 10 Tf 12 TL 1 0 0 1 72 700 Tm (a) Tj "
                      b"1 2 [(q)] \" (post) Tj ET"),
            _assemble(b"BT /F1 10 Tf (xy) Tc 1 0 0 1 72 700 Tm (keep) Tj "
                      b"[(a)] Tj (lost) Tj ET"),
            _assemble_with_form(
                b"", b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (out) Tj ET /Fm Do "
                b"BT /F1 10 Tf 1 0 0 1 72 600 Tm (after) Tj ET",
                b"BT /F1 10 Tf 1 0 0 1 72 650 Tm (inform) Tj [(a)] Tj "
                b"(lost) Tj ET"),
        ],
    )


def test_negative_size_left_straddle_byte_equal_vs_live_reference(tmp_path):
    """A NEGATIVE font size walks the pen LEFT, so the item's extent is
    [cur_x + adv, cur_x] — the straddle gates must test the interval,
    not cur_x + adv as a right edge, or the per-glyph box walk never
    runs and glyphs that pdf.js rejects off the left edge survive
    (caught by the coerce sweep at base 43M, seed 128)."""
    _run_differential(
        tmp_path,
        [
            _assemble(b"BT /F1 12 Tf 1 0 0 1 72 700 Tm 80 Tz /F2 -40 Tf "
                      b"(mu epsilon) Tj ET"),
            _assemble(b"BT /F2 -40 Tf 1 0 0 1 72 700 Tm 80 Tz "
                      b"(mu epsilon) Tj ET"),
            _assemble(b"BT /F2 -40 Tf 1 0 0 1 72 700 Tm 120 Tz "
                      b"(mu epsilon) Tj ET"),
            _assemble(b"BT /F2 -12 Tf 1 0 0 1 5 700 Tm "
                      b"(alpha beta gamma) Tj ET"),
            _assemble(b"BT /F1 10 Tf 1 0 0 1 72 700 Tm 80 Tz "
                      b"[(psi) -300 (epsilon)] TJ /F1 12 Tf "
                      b"[(sigma) -300 (omicron)] TJ 0.4 Ts (sigma) Tj "
                      b"/F2 -40 Tf (mu epsilon) Tj true Ts "
                      b"(upsilon) Tj ET"),
            _assemble(b"BT /F1 -20 Tf 1 0 0 1 100 700 Tm "
                      b"[(alpha) -400 (beta)] TJ (gamma) Tj ET"),
        ],
    )


def _gen_coerce_form_stream(rng: random.Random) -> bytes:
    """Coercion junk CROSSING Form XObject boundaries: raw junk slots
    cloned into / confined inside forms, junk form /Matrix cells, junk
    cm around Do, array show-operands stopping ONLY the form, negative
    sizes deferring nested runs to jsvm, and nested /Fm2 recursion —
    the interaction space of the round-5 jsvm tier."""

    def val() -> bytes:
        return rng.choice(_COERCE_VALUES)

    def soup(r: random.Random, n: int, junk_p: float) -> list[bytes]:
        ops = []
        for _ in range(n):
            k = r.randrange(8)
            junk = r.random() < junk_p
            if k == 0:
                ops.append(b"%s Tc" % (val() if junk else b"0.5"))
            elif k == 1:
                ops.append(b"%s Tw" % (val() if junk else b"1.0"))
            elif k == 2:
                ops.append(b"%s Tz" % (val() if junk else b"85"))
            elif k == 3:
                ops.append(b"%s TL" % (val() if junk else b"12"))
                ops.append(r.choice([b"T*",
                                     b"(%s) '" % r.choice(WORDS).encode()]))
            elif k == 4:
                ops.append(b"%s Ts" % (val() if junk else b"2"))
            elif k == 5:
                a = val() if junk else b"4"
                b_ = val() if r.random() < junk_p else b"-13"
                ops.append(b"%s %s %s" % (a, b_,
                                          r.choice([b"Td", b"TD"])))
            elif k == 6:
                cells = [b"1", b"0", b"0", b"1",
                         b"%d" % r.randrange(40, 200),
                         b"%d" % r.randrange(200, 700)]
                if junk:
                    cells[r.randrange(6)] = val()
                ops.append(b" ".join(cells) + b" Tm")
            else:
                r2 = r.random()
                if junk and r2 < 0.4:
                    ops.append(b"/F%d %s Tf" % (r.choice([1, 2]), val()))
                elif junk and r2 < 0.55:
                    ops.append(b"/F%d -40 Tf" % r.choice([1, 2]))
                else:
                    ops.append(b"/F%d %d Tf"
                               % (r.choice([1, 2]), r.choice([9, 10, 12])))
            show = r.randrange(4)
            if show == 0:
                ops.append(b"(%s) Tj" % r.choice(WORDS).encode())
            elif show == 1:
                ops.append(b"[(%s) -250 (%s)] TJ"
                           % (r.choice(WORDS).encode(),
                              r.choice(WORDS).encode()))
            elif show == 2 and r.random() < 0.15:
                # array chars operand: stops the enclosing frame only
                ops.append(b"[(%s)] Tj" % r.choice(WORDS).encode())
        return ops

    junk_p = rng.choice([0.25, 0.5, 0.75])
    outer = [b"BT /F1 %s Tf" % (val() if rng.random() < 0.2 else b"10"),
             b"1 0 0 1 72 700 Tm"]
    outer += soup(rng, rng.randrange(1, 4), junk_p)
    do = [b"/Fm Do"]
    if rng.random() < 0.35:
        cells = [b"1", b"0", b"0", b"1", b"0", b"0"]
        if rng.random() < 0.6:
            cells[rng.randrange(6)] = val()  # junk cm poisons the CTM
        do = [b"q", b" ".join(cells) + b" cm", b"/Fm Do", b"Q"]
    if rng.random() < 0.5:
        outer += do  # Do mid-BT
        outer += soup(rng, rng.randrange(1, 3), junk_p) + [b"ET"]
    else:
        outer += [b"ET"] + do
        if rng.random() < 0.7:
            outer += [b"BT /F1 10 Tf 1 0 0 1 72 %d Tm"
                      % rng.randrange(200, 650)]
            outer += soup(rng, rng.randrange(1, 3), junk_p) + [b"ET"]
    form = []
    shape = rng.randrange(4)
    if shape == 0:
        form += soup(rng, rng.randrange(1, 4), junk_p)  # inherits all
    elif shape == 1:
        form.append(b"BT")
        if rng.random() < 0.5:
            form.append(b"/F1 %s Tf"
                        % (val() if rng.random() < 0.4 else b"9"))
        if rng.random() < 0.5:
            form.append(b"1 0 0 1 %d %d Tm"
                        % (rng.randrange(40, 300), rng.randrange(150, 600)))
        form += soup(rng, rng.randrange(2, 5), junk_p) + [b"ET"]
    elif shape == 2:
        form.append(rng.choice([b"T*", b"0 -13 Td"]))  # cloned-lm window
        form += soup(rng, rng.randrange(1, 4), junk_p)
    else:
        form.append(b"%s Tc" % val())  # junk confined inside the form
        form += soup(rng, rng.randrange(1, 4), junk_p)
    r2 = rng.random()
    form2 = None
    if r2 < 0.08:
        form = []
    elif r2 < 0.28:
        at = rng.randrange(0, len(form) + 1)
        form = form[:at] + [b"/Fm2 Do"] + form[at:]
        f2 = soup(rng, rng.randrange(1, 3), junk_p)
        if rng.random() < 0.5:
            f2 = [b"BT /F1 10 Tf 1 0 0 1 %d %d Tm"
                  % (rng.randrange(40, 300), rng.randrange(150, 600))
                  ] + f2 + [b"ET"]
        form2 = (b"", b" ".join(f2))
    mats = [b"", b"/Matrix [1 0 0 1 0 0]", b"/Matrix [1 0 0 1 50 -20]",
            b"/Matrix [0.5 0 0 0.5 100 100]",
            b"/Matrix [1 0 0 1 (xy) 0]",   # lookupMatrix -> null
            b"/Matrix [1 0 0 [5] 0 0]",
            b"/Matrix [0 1 -1 0 300 50]"]
    return _assemble_with_form(rng.choice(mats), b" ".join(outer),
                               b" ".join(form), form2=form2)


def test_coerce_form_sweep_byte_equal_vs_live_reference(tmp_path):
    """40 seeded coercion x form docs (junk slots cloned into forms,
    junk /Matrix cells, array-operand form stops, negative-size defers
    inside nested runs)."""
    _run_differential(
        tmp_path,
        [_gen_coerce_form_stream(random.Random(930000 + s))
         for s in range(40)],
    )


def _assemble_two_pages(content1: bytes, content2: bytes) -> bytes:
    """Two-page doc sharing one /F1 — the cross-page charsCache axis
    (pdf.js translated fonts are DOCUMENT-cached, so page 2's cache
    starts with everything page 1 showed)."""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> /Contents 6 0 R >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> /Contents 7 0 R >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Length %d >>\nstream\n%s\nendstream"
        % (len(content1), content1),
        b"<< /Length %d >>\nstream\n%s\nendstream"
        % (len(content2), content2),
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, o)
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offs:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref)
    return bytes(out)


_CHARSCACHE_PINNED = [
    # miss: never shown before -> charCodeAt throws, page stops
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm [(a)] Tj (post) Tj ET",
    # hit: (a) shown first with the same font -> cached glyphs show
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (a) Tj 0 -20 Td [(a)] Tj "
    b"(post) Tj ET",
    # TJ flushes populate the cache per buffered segment
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm [(beta) -250 (chi)] TJ 0 -20 Td "
    b"[(chi)] Tj (post) Tj ET",
    # key is Array#toString: [(a) (b)] -> "a,b" misses "a"/"b"...
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (a) Tj (b) Tj 0 -20 Td "
    b"[(a) (b)] Tj (post) Tj ET",
    # ...but a literal (a,b) show hits it
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (a,b) Tj 0 -20 Td [(a) (b)] Tj "
    b"(post) Tj ET",
    # the cache is size-independent (font object, not text state)
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (mu mu) Tj /F1 24 Tf 0 -40 Td "
    b"[(mu mu)] Tj (post) Tj ET",
    # a MISSING font's fallback is a separate font object (ONE shared
    # per document): page-wide population on /F1 doesn't carry over
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (a) Tj /F2 10 Tf 0 -20 Td "
    b"[(a)] Tj (post) Tj ET",
    # empty array: length 0, charCodeAt never runs -> silent no-op
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (x) Tj 0 -20 Td [] Tj "
    b"(post) Tj ET",
    # number/Name/dict/bool operands stringify: hits SHOW the key...
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (5) Tj 0 -20 Td 5 Tj (post) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (2.5) Tj 0 -20 Td 2.5 Tj "
    b"(post) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm ([object Object]) Tj 0 -20 Td "
    b"/Five Tj (post) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm ([object Object]) Tj 0 -20 Td "
    b"<< /X 1 >> Tj (post) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (true) Tj 0 -20 Td true Tj "
    b"(post) Tj ET",
    # ...and misses POISON the key with [] (stored empty array is a
    # truthy hit), muting later equal-key string shows
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (x) Tj 5 Tj 0 -20 Td (5) Tj "
    b"(post) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (x) Tj /Five Tj 0 -20 Td "
    b"([object Object]) Tj (post) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (x) Tj 5 Tj 0 -20 Td [5] Tj "
    b"(post) Tj ET",
    b"BT /F1 10 Tf 12 TL 1 0 0 1 72 700 Tm (x) Tj 5 ' (5) Tj "
    b"(post) Tj ET",
    # nested array / hex element stringify through to a hit
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (a) Tj 0 -20 Td [[(a)]] Tj "
    b"(post) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (a) Tj 0 -20 Td [<61>] Tj "
    b"(post) Tj ET",
    # TJ kern numbers never reach charsToGlyphs: no poison
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (x) Tj [5] TJ 0 -20 Td (5) Tj "
    b"(post) Tj ET",
    # TJ skips non-string non-number ELEMENTS (even cached ones)
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (b) Tj 0 -20 Td "
    b"[(a) [(b)] (c)] TJ (post) Tj ET",
    # quote-op chars go through the same cache
    b"BT /F1 10 Tf 12 TL 1 0 0 1 72 700 Tm (q) Tj [(q)] ' "
    b"(post) Tj ET",
    # the fallback font is ONE shared object per document
    # (PartialEvaluator.fallbackFontDict is a static whose cacheKey
    # short-circuits every later missing-name load,
    # pdf.worker.js:35575-35580): /F7's population enables /F9's hit
    b"BT /F7 10 Tf 1 0 0 1 72 700 Tm (a) Tj /F9 10 Tf 0 -20 Td "
    b"[(a)] Tj (post) Tj ET",
    b"BT /F2 10 Tf 1 0 0 1 72 700 Tm (a) Tj /F2 10 Tf 0 -20 Td "
    b"[(a)] Tj (post) Tj ET",
    b"BT /F7 10 Tf 1 0 0 1 72 700 Tm (x) Tj 5 Tj /F9 10 Tf 0 -20 Td "
    b"(5) Tj (post) Tj ET",
]


_MARKED_CONTENT_PINNED = [
    # BMC/BDC/EMC flush the open item UNCONDITIONALLY
    # (pdf.worker.js:37075,37085,37100): pi's item stays anchored at
    # pi's y while the quote CRs drift the pen 1.5/op — the EMC flush
    # makes the accumulated drift visible as a new item y (> 1.0 =
    # pdf-parse line break). Caught by the arity hunt at base 46M
    # seed 17.
    b"BT /F1 12 Tf 40 TL 1.5 1.5 TD 1.5 Tz 1.5 1.5 (pi) \" (alpha) ' "
    b"EMC (phi) Tj ET",
    b"BT /F1 12 Tf 2 TL 1 0 0 1 72 700 Tm (a) Tj T* (b) Tj /Tag BMC "
    b"(c) Tj EMC (d) Tj ET",
    b"BT /F1 12 Tf 2 TL 1 0 0 1 72 700 Tm (a) Tj T* (b) Tj "
    b"/OC << >> BDC (c) Tj EMC (d) Tj ET",
    # MP/DP have NO getTextContent case: no flush
    b"BT /F1 12 Tf 2 TL 1 0 0 1 72 700 Tm (a) Tj T* (b) Tj /Tag MP "
    b"(c) Tj ET",
    b"BT /F1 12 Tf 2 TL 1 0 0 1 72 700 Tm (a) Tj T* (b) Tj "
    b"/Tag << >> DP (c) Tj ET",
    # drifted-pen EMC flush with an in-flow join on both sides
    b"BT /F1 12 Tf 3 TL 1 0 0 1 72 700 Tm (a) Tj T* (b) Tj T* EMC "
    b"(c) Tj ET",
]


def test_marked_content_flush_byte_equal_vs_live_reference(tmp_path):
    """BMC/BDC/EMC flush the open text item unconditionally in
    getTextContent (pdf.worker.js:37075,37085,37100); MP/DP do not.
    All three tiers (C replay K_MCFLUSH, Python force_flush, jsvm
    flush_item)."""
    _run_differential(
        tmp_path, [_assemble(s) for s in _MARKED_CONTENT_PINNED]
    )


def test_chars_cache_pinned_byte_equal_vs_live_reference(tmp_path):
    """Font._charsCache semantics (pdf.worker.js:29819-29846): the
    cache lookup STRINGIFIES non-string show operands — hits render
    the cached string's glyphs, array misses throw (page stop), and
    .length-less misses store [] (a truthy JS object), poisoning the
    key for every later show on that font."""
    _run_differential(
        tmp_path, [_assemble(s) for s in _CHARSCACHE_PINNED]
    )


def test_chars_cache_cross_page_byte_equal_vs_live_reference(tmp_path):
    """The charsCache lives on DOCUMENT-cached font objects: page 2's
    junk shows see page 1's population (hits) — _JsCtx replays the
    preceding pages population-only at the first jsvm deferral."""
    _run_differential(
        tmp_path,
        [
            # page-1 string enables a page-2 array hit
            _assemble_two_pages(
                b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (phi) Tj ET",
                b"BT /F1 10 Tf 1 0 0 1 72 700 Tm [(phi)] Tj "
                b"(post) Tj ET"),
            # control: page-2 key differs -> miss -> page-2 stop
            _assemble_two_pages(
                b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (phi) Tj ET",
                b"BT /F1 10 Tf 1 0 0 1 72 700 Tm [(psi)] Tj "
                b"(post) Tj ET"),
            # page-1 number show poisons a page-2 jsvm page's key
            _assemble_two_pages(
                b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (x) Tj 5 Tj ET",
                b"BT /F1 10 Tf (xy) Tc 1 0 0 1 72 700 Tm (5) Tj "
                b"(post) Tj ET"),
            # both pages defer: page-1 jsvm population carries forward
            _assemble_two_pages(
                b"BT /F1 10 Tf (xy) Tc 1 0 0 1 72 700 Tm (rho) Tj ET",
                b"BT /F1 10 Tf 1 0 0 1 72 700 Tm [(rho)] Tj "
                b"(post) Tj ET"),
            # page-1 jsvm poison mutes a PLAIN page 2's equal-key show
            # (the poisoned flag demotes every later page to jsvm)
            _assemble_two_pages(
                b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (x) Tj 5 Tj ET",
                b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (5) Tj (post) Tj ET"),
            # population-only keys do NOT demote: page 1 defers via a
            # junk Tc (no poison), page 2 stays plain and identical
            _assemble_two_pages(
                b"BT /F1 10 Tf (xy) Tc 1 0 0 1 72 700 Tm (sig) Tj ET",
                b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (sig) Tj (post) Tj ET"),
            # the SHARED fallback font carries its cache across pages:
            # page 1's /F2 literal show enables page 2's /F2 dict-show
            # hit AND the closing array hit (cross_page hunt, base 48M
            # seed 9)
            _assemble_two_pages(
                b"BT /F2 10 Tf 1 0 0 1 72 700 Tm ([object Object]) Tj "
                b"0 -20 Td [(true)] Tj 0 -20 Td ET",
                b"BT /F2 10 Tf 1 0 0 1 72 700 Tm [(true) -250 (beta)] "
                b"TJ (beta) Tj << /X 1 >> Tj [([object Object])] Tj ET"),
        ],
    )


def _gen_cross_page_cache_stream(rng: random.Random) -> bytes:
    """Two-page docs over a SHARED key pool: plain shows, stringified
    junk shows (numbers, Names, booleans, arrays), and TJ populations
    collide across the page boundary — exercising _JsCtx's sequential
    population replay and the poisoned-key demotion of later pages."""
    pool = ["alpha", "beta", "5", "2.5", "true", "[object Object]"]
    junk = [b"5 Tj", b"2.5 Tj", b"/Five Tj", b"true Tj",
            b"<< /X 1 >> Tj"]

    def page(r: random.Random) -> bytes:
        ops = [b"BT /F%d 10 Tf" % (1 if r.random() < 0.85 else 2),
               b"1 0 0 1 72 700 Tm"]
        for _ in range(r.randrange(2, 6)):
            k = r.randrange(5)
            if k == 0:
                ops.append(b"(%s) Tj" % r.choice(pool).encode())
            elif k == 1:
                ops.append(r.choice(junk))
            elif k == 2:
                ops.append(b"[(%s)] Tj" % r.choice(pool).encode())
            elif k == 3:
                ops.append(b"[(%s) -250 (%s)] TJ"
                           % (r.choice(pool).encode(),
                              r.choice(pool).encode()))
            else:
                ops.append(b"0 -20 Td")
        ops.append(b"ET")
        return b" ".join(ops)

    return _assemble_two_pages(page(rng), page(rng))


def test_cross_page_cache_sweep_byte_equal_vs_live_reference(tmp_path):
    """40 seeded two-page shared-key-pool docs (cross-page population,
    poison demotion, fallback-font cache isolation)."""
    _run_differential(
        tmp_path,
        [_gen_cross_page_cache_stream(random.Random(940000 + s))
         for s in range(40)],
    )


def _assemble_alias_fonts(content: bytes) -> bytes:
    """One page whose /FA and /FB resource names BOTH point at the same
    font object — the name-vs-object flush axis."""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /FA 4 0 R /FB 4 0 R >> >> "
        b"/Contents 5 0 R >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, o)
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offs:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref)
    return bytes(out)


def test_alias_font_names_byte_equal_vs_live_reference(tmp_path):
    """Two resource names aliasing ONE font ref: setFont flushes on the
    NAME change (getTextContent compares fontName/fontSize, not the
    translated font), while the charsCache lives on the shared font
    OBJECT (an /FA population enables an /FB array hit)."""
    _run_differential(
        tmp_path,
        [
            _assemble_alias_fonts(
                b"BT /FA 12 Tf 40 TL 1.5 1.5 TD 1.5 Tz 1.5 1.5 (pi) \" "
                b"(alpha) ' /FB 12 Tf (phi) Tj ET"),
            _assemble_alias_fonts(
                b"BT /FA 12 Tf 40 TL 1.5 1.5 TD 1.5 Tz 1.5 1.5 (pi) \" "
                b"(alpha) ' /FA 12 Tf (phi) Tj ET"),
            _assemble_alias_fonts(
                b"BT /FA 10 Tf 1 0 0 1 72 700 Tm (a) Tj /FB 10 Tf "
                b"0 -20 Td [(a)] Tj (post) Tj ET"),
        ],
    )


def _gen_font_chaos_stream(rng: random.Random) -> bytes:
    """Structurally-broken FONT DICTS x normal content: pdf.js font
    loads that THROW produce an ErrorFont whose charsToGlyphs() returns
    [] unconditionally — every show is a glyph-less, advance-less no-op
    (arrays don't throw, the charsCache is never touched). Mixes error
    classes (junk /Subtype, non-Name /BaseFont without descriptor, junk
    descriptor /FontName, junk /Differences entries, broken
    /DescendantFonts) with VALID fonts in the same resources so pen
    state crosses error/real boundaries. Avoids exact viewbox-edge
    landings (non-round Tm origins / widths) — the per-glyph box test
    is float-dust-sensitive within ~2e-14 of the edge (documented
    knife-edge, same class as the tc rounding boundary)."""
    fonts = {
        b"/E1": b"<< /Type /Font /Subtype /Type1 /BaseFont 42 >>",
        b"/E2": b"<< /Type /Font /Subtype /Type1 >>",
        b"/E3": b"<< /Type /Font /Subtype (T1) /BaseFont /Helvetica >>",
        b"/E4": b"<< /Type /Font /BaseFont /Helvetica >>",
        b"/E5": b"<< /Type /Font /Subtype /Type1 /BaseFont (Helv) >>",
        b"/E6": b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
                b"/Encoding << /Differences [97 (junk)] >> >>",
        b"/E7": b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
                b"/Encoding << /Differences [97 true 98 /eta] >> >>",
        b"/E8": b"<< /Type /Font /Subtype /Type0 /BaseFont /X "
                b"/Encoding /Identity-H >>",
        b"/E9": b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
                b"/FontDescriptor << /FontName 9 /Flags 32 >> >>",
        b"/EA": b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
                b"/ToUnicode /Junk >>",
        b"/EB": b"<< /Type /Font /Subtype /Type0 /BaseFont /X "
                b"/Encoding /JunkCMap >>",
        b"/V1": b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"/V2": b"<< /Type /Font /Subtype /Type1 /BaseFont /Times-Roman "
                b"/Encoding << /Differences [97 /zeta 5.5 /theta] >> >>",
        b"/V3": b"<< /Type /Font /Subtype /Type1 /BaseFont (Helv) "
                b"/FontDescriptor << /FontName /Helvetica /Flags 32 >> >>",
    }
    names = list(fonts)
    ops = [b"BT /%s %d Tf" % (rng.choice(names)[1:],
                              rng.choice([9, 10, 12])),
           b"1 0 0 1 %.1f %.1f Tm" % (rng.uniform(40, 200),
                                      rng.uniform(200, 700))]
    for _ in range(rng.randrange(3, 9)):
        k = rng.randrange(6)
        if k == 0:
            ops.append(b"/%s %d Tf" % (rng.choice(names)[1:],
                                       rng.choice([9, 10, 12])))
        elif k == 1:
            ops.append(b"(%s) Tj" % rng.choice(WORDS).encode())
        elif k == 2:
            ops.append(b"[(%s) %d (%s)] TJ"
                       % (rng.choice(WORDS).encode(),
                          rng.choice([-400, -150, 250]),
                          rng.choice(WORDS).encode()))
        elif k == 3:
            ops.append(b"[(%s)] Tj" % rng.choice(WORDS).encode())
        elif k == 4:
            ops.append(b"%d %d Td" % (rng.randrange(-15, 20),
                                      rng.choice([0, -13])))
        else:
            ops.append(b"12 TL")
            ops.append(b"(%s) '" % rng.choice(WORDS).encode())
    ops.append(b"ET")
    content = b" ".join(ops)
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << "
        + b" ".join(b"%s %d 0 R" % (nm, 5 + i)
                    for i, nm in enumerate(names))
        + b" >> >> /Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
    ] + [fonts[nm] for nm in names]
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, o)
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offs:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref)
    return bytes(out)


_ERROR_FONT_PINNED = [
    # ErrorFont classes (each load THROWS -> charsToGlyphs() == [])
    b"<< /Type /Font /Subtype /Type1 /BaseFont 42 >>",
    b"<< /Type /Font /Subtype /Type1 >>",
    b"<< /Type /Font /BaseFont /Helvetica >>",           # no Subtype
    b"<< /Type /Font /Subtype (T1) /BaseFont /Helvetica >>",
    b"<< /Type /Font /Subtype /Type1 /BaseFont (Helvetica) >>",
    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
    b"/Encoding << /Differences [97 /zeta (junk)] >> >>",
    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
    b"/Encoding << /Differences [97 true] >> >>",
    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
    b"/Encoding << /Differences [97 [1 2]] >> >>",
    b"<< /Type /Font /Subtype /Type0 /BaseFont /X /Encoding /Identity-H >>",
    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
    b"/FontDescriptor << /FontName 9 /Flags 32 >> >>",
    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
    b"/FontDescriptor /Junk >>",
    # /ToUnicode NAME goes through CMapFactory.create: only
    # Identity-H/V resolve without a cMap fetch (pdf-parse passes no
    # cMapUrl) — every other name throws
    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
    b"/ToUnicode /Junk >>",
    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
    b"/ToUnicode /Adobe-Identity-UCS >>",
    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
    b"/ToUnicode /UniJIS-UCS2-H >>",
]
_VALID_FONT_PINNED = [
    # near-misses that do NOT throw
    b"<< /Type /Font /Subtype /Wut /BaseFont /Helvetica >>",
    b"<< /Type /Font /Subtype /Type1 /BaseFont (str) "
    b"/FontDescriptor << /FontName /Helvetica /Flags 32 >> >>",
    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
    b"/Encoding << /Differences [5.5 /theta] >> >>",
    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
    b"/Encoding /NoSuchEncoding >>",
    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
    b"/ToUnicode /Identity-H >>",
    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
    b"/ToUnicode /Identity-V >>",
]
_T0_FONT_PINNED = [
    # (descendant-needing shapes; _assemble_one_font supplies 7 0 R as
    # a valid CIDFontType2 descendant when referenced)
    # composite /Encoding must be Identity-H/V or an embedded stream
    (b"<< /Type /Font /Subtype /Type0 /BaseFont /X /Encoding /JunkCMap "
     b"/DescendantFonts [7 0 R] >>", b""),
    (b"<< /Type /Font /Subtype /Type0 /BaseFont /X "
     b"/DescendantFonts [7 0 R] >>", b""),
    (b"<< /Type /Font /Subtype /Type0 /BaseFont /X /Encoding << /X 1 >> "
     b"/DescendantFonts [7 0 R] >>", b""),
    (b"<< /Type /Font /Subtype /Type0 /BaseFont /X /Encoding /UniJIS-UCS2-H "
     b"/DescendantFonts [7 0 R] >>", b""),
    # ToUnicode junk on the DESCENDANT dict errors too
    (b"<< /Type /Font /Subtype /Type0 /BaseFont /X /Encoding /Identity-H "
     b"/DescendantFonts [7 0 R] >>", b"/ToUnicode /Junk "),
    # control: Identity-H composite is fine
    (b"<< /Type /Font /Subtype /Type0 /BaseFont /X /Encoding /Identity-H "
     b"/DescendantFonts [7 0 R] >>", b""),
]


def _assemble_one_font(fontobj: bytes, content: bytes,
                       desc_extra: bytes = b"") -> bytes:
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 4 0 R /F2 6 0 R >> >> "
        b"/Contents 5 0 R >>",
        fontobj,
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Fake "
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
        b"/Supplement 0 >> " + desc_extra +
        b"/FontDescriptor << /FontName /Fake /Flags 4 >> >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, o)
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offs:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref)
    return bytes(out)


def test_error_font_pinned_byte_equal_vs_live_reference(tmp_path):
    """Font loads that THROW in pdf.js (preEvaluateFont: invalid
    /Subtype, broken /DescendantFonts; translateFont: non-Name
    /BaseFont without a descriptor rescue, junk descriptor /FontName;
    extractDataStructures: junk /Differences entries) substitute an
    ErrorFont: every show is a glyph-less, ADVANCE-LESS no-op — a later
    real font's items anchor as if the error shows never happened —
    and arrays/numbers at shows neither throw nor touch the charsCache.
    Near-miss dicts (string BaseFont WITH a descriptor FontName, float
    Differences indexes, unknown-but-Name Subtype/Encoding) stay
    fully rendered."""
    C = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (alpha) Tj ( beta) Tj ET"
    C2 = (b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (alpha) Tj /F2 12 Tf (x) Tj "
          b"[(k) -2000 (m)] TJ ET")
    C3 = (b"BT /F1 12 Tf 1 0 0 1 72 700 Tm [(a)] Tj (post) Tj 5 Tj "
          b"(5) Tj ET")
    C4 = (b"BT /F1 12 Tf 14 TL 1 0 0 1 72 700 Tm (a) ' (b) ' /F2 12 Tf "
          b"(vis) Tj ET")
    docs = [_assemble_one_font(f, C) for f in _ERROR_FONT_PINNED]
    docs += [_assemble_one_font(f, C) for f in _VALID_FONT_PINNED]
    docs += [
        _assemble_one_font(_ERROR_FONT_PINNED[0], C2),  # pen untouched
        _assemble_one_font(_ERROR_FONT_PINNED[0], C3),  # no cache/throw
        _assemble_one_font(_ERROR_FONT_PINNED[0], C4),  # CRs still move
    ]
    C5 = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm <00480069> Tj (post) Tj ET"
    docs += [_assemble_one_font(f, C5, desc_extra=extra)
             for f, extra in _T0_FONT_PINNED]
    _run_differential(tmp_path, docs)


def _assemble_gs_entry(gsobj: bytes, content: bytes) -> bytes:
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 4 0 R >> "
        b"/ExtGState << /GS1 6 0 R >> >> /Contents 5 0 R >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        gsobj,
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, o)
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offs:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref)
    return bytes(out)


def test_gs_font_junk_shapes_byte_equal_vs_live_reference(tmp_path):
    """setGState's `if (!gStateFont)` guard is plain JS truthiness: a
    truthy non-array or short-array /Font STILL flushes and sets the
    font — gStateFont[1] is undefined (NaN at every use site, glyphs
    spread 'p o s t'), gStateFont[0] undefined/junk loads the SHARED
    fallback font; a falsy /Font (0) is a no-op; a Name first element
    is junk too (not a Ref) -> fallback."""
    CGS = (b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (pre) Tj /GS1 gs "
           b"(post) Tj ET")
    CGS2 = (b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (pre) Tj /GS1 gs "
            b"(post) Tj /F1 12 Tf (back) Tj ET")
    _run_differential(
        tmp_path,
        [
            _assemble_gs_entry(b"<< /Font 5 >>", CGS),
            _assemble_gs_entry(b"<< /Font [4 0 R] >>", CGS),
            _assemble_gs_entry(b"<< /Font [] >>", CGS),
            _assemble_gs_entry(b"<< /Font << /X 1 >> >>", CGS),
            _assemble_gs_entry(b"<< /Font 0 >>", CGS),
            _assemble_gs_entry(b"<< /Font [/Helv 10] >>", CGS),
            _assemble_gs_entry(b"<< /Font 5 >>", CGS2),
            _assemble_gs_entry(b"<< /Font (xy) >>", CGS),
        ],
    )


def test_font_chaos_sweep_byte_equal_vs_live_reference(tmp_path):
    """40 seeded broken-font-dict x content docs."""
    _run_differential(
        tmp_path,
        [_gen_font_chaos_stream(random.Random(950000 + s))
         for s in range(40)],
    )


def _gen_inline_image_stream(rng: random.Random) -> bytes:
    """Inline images (BI ... ID <data> EI): pdf.js ends the data with
    findDefaultInlineStreamEnd (pdf.worker.js:13449-13538) — E,I
    adjacency + SPACE/LF/CR + a 15-byte printable window + a mini-lexer
    that must reach a known command with matching arity — or with the
    filter-specific EOD scanners (AHx '>' / A85 '~>' / DCT JPEG EOI)
    followed by inlineStreamSkipEI. The dict parse throws on non-Name
    keys (page stop, partial text kept), the image stream is ONE operand
    consumed by the 1-arg EI op (stash interplay with pending operands),
    and the byte terminating "ID" is swallowed as lexer.currentChar (the
    stale splice feeds it to the token AFTER the image). Excluded (rare^3
    documented approximations): "ID"/"BI" inside dict values, refs in
    dict values, nested BI."""
    words = WORDS

    def word():
        return rng.choice(words).encode()

    def decoy():
        # EI-lookalikes that must NOT end the image, plus window junk
        return rng.choice((
            b"EI\t",          # tab after EI: not a candidate
            b"EI(x)",         # delimiter after EI: not a candidate
            b"EIQ",           # glued letter: not a candidate
            b"EI \xff\xff",   # non-ASCII window: rejected
            b"EI \x00\x00",   # NUL pair window: rejected
            b"EI zzgw x",     # unknown command: rejected
            b"EI 1 2 3 Tz x", # arity mismatch rolls numArgs, then junk
            b"EI [ (a) ]",    # "[" is an unknown Cmd to the window lexer
            b"EE II E I",     # near-misses for the state machine
            b"\x01\x02\x03",
        ))

    def dict_entries():
        ents = []
        for _ in range(rng.randrange(0, 4)):
            key = rng.choice((b"/W", b"/H", b"/BPC", b"/CS", b"/IM",
                              b"/Junk", b"/D", b"/L#65n"))
            val = rng.choice((
                b"2", b"8", b"1.5", b"-3", b"/G", b"/DeviceGray",
                b"(str)", b"<< /A 5 >>", b"[1 2]", b"<AB>", b"true",
                b"false", b"null", b"zz",
            ))
            ents.append(key + b" " + val)
        return b" ".join(ents)

    out = [b"BT /F1 12 Tf 40 TL 100 700 Td (%s) Tj " % word()]
    for _ in range(rng.randrange(1, 3)):
        if rng.random() < 0.25:
            # pending operands ride the stash across the image operand
            out.append(b"%d " % rng.randrange(1, 4))
        filt = rng.choice((None, None, None, b"/AHx", b"/A85", b"/DCT",
                           b"/ASCIIHexDecode", b"/ASCII85Decode"))
        head = b"BI " + dict_entries()
        if filt is not None:
            head += b" %s %s" % (rng.choice((b"/F", b"/Filter")), filt)
        if rng.random() < 0.04:
            head += b" " + rng.choice((b"5", b"(k)", b"[2]", b"zq"))
        term = rng.choice((b" ", b" ", b" ", b"\n", b"\r", b"\t", b"",
                           b"("))
        if filt in (b"/AHx", b"/ASCIIHexDecode"):
            data = b"0001 0203"
            if rng.random() < 0.3:
                data += b" EI (%s) Tj 04" % word()  # EI inside hex data
            data += rng.choice((b">", b">", b">", b""))  # missing EOD -> fallback
            data += rng.choice((b" EI ", b" EI", b"EIQ ", b" E I EI "))
        elif filt in (b"/A85", b"/ASCII85Decode"):
            data = b";Rr"
            if rng.random() < 0.3:
                data += b" EI (%s) Tj ;r" % word()
            data += rng.choice((b"~>", b"~>", b"~ >", b"~ EI", b""))
            data += rng.choice((b" EI ", b" EI", b"EIQ "))
        elif filt == b"/DCT":
            data = b"\xff\xd8"
            if rng.random() < 0.5:
                data += b"\xff\xe0\x00\x04zz"  # sized APP0 segment
            if rng.random() < 0.3:
                data += b" EI (%s) Tj " % word()
            data += rng.choice((b"\xff\xd9", b"\xff\xd9", b""))
            data += rng.choice((b" EI ", b" EI", b"EIQ "))
        else:
            parts = [bytes(rng.randrange(1, 256) for _ in
                           range(rng.randrange(0, 6)))]
            for _ in range(rng.randrange(0, 3)):
                parts.append(decoy())
            ending = rng.choice((
                b" EI ",            # clean candidate, window = what follows
                b" EI\n",
                b"\x41EI ",         # no ws before the marker
                b" EI \x00Q ",      # NUL-before-printable window
                b"",                # no EI at all: rest swallowed / EOF
            ))
            data = b" ".join(parts) + ending
        out.append(head + b" ID" + term + data)
        out.append(b" (%s) Tj " % word())
    out.append(b"ET")
    return b"".join(out)


def test_inline_image_probes_byte_equal_vs_live_reference(tmp_path):
    """Distilled BI/ID/EI probes, each verified against the live node
    reference during the round-5 build: default end-finder accept/reject paths (ws
    rules, 15-byte window, NUL pair, arity walk, EOF recovery),
    filter-specific EOD scanners + skip-to-EI-anywhere, non-Name dict
    keys (page stop, partial text kept), junk values (fine), pending
    operands riding the stash past the image operand, and the
    stale-currentChar splice after a glued ID terminator."""
    H = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (pre) Tj "
    T = b" (tail) Tj ET"
    D = b"BI /W 2 /H 2 /BPC 8 /CS /G ID"
    _run_differential(
        tmp_path,
        [_assemble(c) for c in [
            H + D + b" \x01\x02\x03\x04 EI Q" + T,
            H + D + b" \x41\x42EI Q" + T,
            H + D + b" \x01\x02 EI(mid) Tj EI Q" + T,
            H + D + b" \x01\x02 EI\t(mid) Tj EI Q" + T,
            H + D + b" \x01\x02 EI \xff\xff\xff (mid) Tj EI Q" + T,
            H + D + b" \x01\x02 EI zzgw (mid) Tj EI Q" + T,
            H + D + b" \x01\x02 EI 1 2 3 Tc (m) Tj EI Q" + T,
            H + D + b" \x01\x02 EI 12345 678901 Tqq (m) Tj EI Q" + T,
            H + D + b" \x01\x02 EI \xff\xff\xff\xff" + T,
            H + D + b" \x01\x02 XY (mid) Tj ET",
            H + D + b" \x01 EI \x00\x00 (mid) Tj EI Q" + T,
            H + D + b" \x01 EI \x00Q (mid) Tj EI Q" + T,
            H + b"BI 5 ID \x01 EI Q" + T,
            H + b"BI /W 1 (k) ID \x01 EI Q" + T,
            H + b"BI /W (q) /H << /A 5 >> ID \x01\x02 EI Q" + T,
            H + b"5 " + D + b" \x01 EI Tc (ga mma) Tj ET",
            H + b"BI /W 2 /H 2 /BPC 8 /CS /G /F /AHx ID 00010203> EI Q" + T,
            H + b"BI /W 2 /H 2 /BPC 8 /CS /G /F /AHx ID 00 EI (mid) Tj"
            b" 0203> EI Q" + T,
            H + b"BI /W 1 /H 1 /BPC 8 /CS /G /F /A85 ID ;Rr~> EI Q" + T,
            H + b"BI /W 1 /H 1 /BPC 8 /CS /G /F /A85 ID ;R EI (mid) Tj"
            b" ~> EI Q" + T,
            H + b"BI /W 1 /H 1 /BPC 8 /CS /G /F /DCT ID \xff\xd8\xff\xd9"
            b" EI Q" + T,
            H + b"BI /W 1 /H 1 /BPC 8 /CS /G /F /DCT ID \xff\xd8 EI"
            b" (mid) Tj \xff\xd9 EI Q" + T,
            H + D + b"\x41\x42 EI Q" + T,
            H + D + b"(AB EI Q" + T,
        ]],
    )


def test_inline_image_streams_byte_equal_vs_live_reference(tmp_path):
    """Seeded inline-image fuzz sweep vs the live node reference."""
    rng = random.Random(0xB11D)
    _run_differential(
        tmp_path,
        [_assemble(_gen_inline_image_stream(rng)) for _ in range(24)],
    )


def _gen_ref_stream(rng: random.Random) -> bytes:
    """`int int R` Ref folding (Parser.getObj, pdf.worker.js:13432-13438)
    in content streams: three consecutive tokens fold into ONE Ref
    operand — eating two numbers the old model kept — both at top level
    (stash/arity flows shift; the Ref is a JS object, ToString "5R" /
    "5R2", ToNumber NaN in the coercion tier) and inside TJ arrays
    (showSpacedText drops non-string/non-number elements, so a folded
    Ref also swallows what would have been two kerns). Also fuzzes inert
    Cmd elements inside arrays and the page-stop paths (unclosed array,
    stray ')')."""
    words = WORDS

    def word():
        return rng.choice(words).encode()

    def num():
        return rng.choice((b"0", b"2", b"5", b"700", b"-3", b"1.5",
                           b"5.0", b"-40"))

    ops = [b"BT /F1 12 Tf 40 TL 100 700 Td (%s) Tj " % word()]
    for _ in range(rng.randrange(4, 10)):
        r = rng.random()
        if r < 0.35:
            # top-level trio (or near-miss) feeding a text-state op
            trio = b"%s %s %s" % (num(), num(),
                                  rng.choice((b"R", b"R", b"Rz", b"RG")))
            op = rng.choice((b"Td", b"TD", b"Tc", b"Tw", b"Tm", b"Tz",
                             b"TL", b"Ts", b"gs", b"Do", b"q", b"BQ"))
            ops.append(b"%s %s (%s) Tj " % (trio, op, word()))
        elif r < 0.7:
            # TJ array with refs / barewords / keywords as elements
            els = []
            for _ in range(rng.randrange(1, 6)):
                e = rng.random()
                if e < 0.4:
                    els.append(b"(%s)" % word())
                elif e < 0.6:
                    els.append(num())
                elif e < 0.75:
                    els.append(b"%s %s R" % (num(), num()))
                else:
                    els.append(rng.choice((b"true", b"false", b"null",
                                           b"/N", b"qq", b"Tz", b"R",
                                           b"<AB>", b"[2 (x)]",
                                           b"<< /X 5 >>")))
            ops.append(b"[%s] TJ " % b" ".join(els))
        elif r < 0.8:
            ops.append(b"%s %s R (%s) ' " % (num(), num(), word()))
        elif r < 0.9:
            ops.append(b"%s %s R %s (%s) \" " % (num(), num(), num(),
                                                 word()))
        else:
            ops.append(b"%s %s R Tj (%s) Tj " % (num(), num(), word()))
    ops.append(b"ET")
    return b"".join(ops)


def test_content_ref_probes_byte_equal_vs_live_reference(tmp_path):
    """Distilled `int int R` probes, each verified against the live node
    reference during the round-5 build: trio folding at top level
    (underflow skips, stash slides, NaN cascades from Ref-valued slots,
    charsCache poisoning under the "5R"/"5R2" stringified key), trio
    folding inside TJ arrays (the Ref eats both kerns), inert Cmd
    elements, keyword elements, zero kerns, and the page-stop paths
    (unclosed array, stray ')' inside an array)."""
    H = b"BT /F1 12 Tf 100 700 Td (ab) Tj "
    _run_differential(
        tmp_path,
        [_assemble(c) for c in [
            H + b"5 -40 R Td (z) Tj ET",
            H + b"1.5 -40 R Td (z) Tj ET",
            H + b"5 -40.0 R Td (z) Tj ET",
            H + b"3 0 R Tc (cd) Tj ET",
            H + b"8 9 2 0 R Td (z) Tj ET",
            H + b"40 TL 7 0 R 2 (q) \" (z) Tj ET",
            H + b"5 2 R Tj (5R2) Tj (k) Tj ET",
            H + b"5 0 R Tj (5R) Tj (k) Tj ET",
            H + b"(x) R 0 -40 Td (z) Tj ET",
            H + b"7 R 0 -40 Td (z) Tj ET",
            H + b"1 0 0 RG 0 -40 Td (z) Tj ET",
            H + b"1 0 0 1 50 3 0 R Tm (z) Tj ET",
            H + b"/F1 3 0 R Tf (z) Tj ET",
            H + b"1 0 R 2 0 R Td (z) Tj ET",
            H + b"5 -1 R Tc (cd) Tj ET",
            H + b"[(a) 5000 0 R (b)] TJ (z) Tj ET",
            H + b"[(a) 5000 0 (b)] TJ (z) Tj ET",
            H + b"[(a) 5000.5 0 R (b)] TJ (z) Tj ET",
            H + b"[(a) qq (b)] TJ (z) Tj ET",
            H + b"[(a) Tz (b)] TJ (z) Tj ET",
            H + b"[(a) true (b)] TJ (z) Tj ET",
            H + b"[(a) null (b)] TJ (z) Tj ET",
            H + b"[(a) /N (b)] TJ (z) Tj ET",
            H + b"[(a) 0 (b)] TJ (z) Tj ET",
            H + b"[(a) (b) Tj (z) Tj ET",
            H + b"[(a) ) (b)] TJ (z) Tj ET",
            H + b"(q) ] 0 -40 Td (z) Tj ET",
            H + b"5 0 R Do (z) Tj ET",
            H + b"5 0 R gs (z) Tj ET",
            H + b"5 0 [(a)] R TJ (z) Tj ET",
            H + b"5 0 [R (a)] TJ (z) Tj ET",
            H + b"[5000 0 R] TJ (z) Tj ET",
            H + b"[(a) [5000] (b)] TJ (z) Tj ET",
            H + b"[(a) << /X 5000 >> (b)] TJ (z) Tj ET",
        ]],
    )


def test_content_ref_streams_byte_equal_vs_live_reference(tmp_path):
    """Seeded `int int R` fuzz sweep vs the live node reference."""
    rng = random.Random(0x5EF5)
    _run_differential(
        tmp_path,
        [_assemble(_gen_ref_stream(rng)) for _ in range(24)],
    )


def _gen_numlex_stream(rng: random.Random) -> bytes:
    """Lexer.getNumber tokenization (pdf.worker.js:13958-14031) and
    lexer-throw timing: e-notation ("1e2" is ONE 100-valued token),
    mid-token minus ("5-6" warns and reads 56), sign + CR/LF + digits,
    double minus, graceful-0 operands ("+ " / ". "), dot-then-e tokens,
    second-dot splits, odd/unterminated hex (pairs only, dangling digit
    dropped, graceful at EOF), unterminated literal strings (graceful
    operand to EOF), and the page-stop throws (sign/dot + non-digit,
    stray ')', >128-char commands) that erase the two tokens the
    Parser's buf1/buf2 lookahead had already lexed."""
    words = WORDS

    def word():
        return rng.choice(words).encode()

    def numtok():
        return rng.choice((
            b"3", b"-4", b"1.5", b"4e1", b"-4E+1", b"3e0", b"0.03e2",
            b"5-6", b"1-5", b"-\n40", b"--40", b"1.2.3", b"4.e1",
            b"5.", b".25", b"+17", b"5e+",
        ))

    ops = [b"BT /F1 12 Tf 40 TL 100 700 Td (%s) Tj " % word()]
    n_ops = rng.randrange(4, 10)
    for i in range(n_ops):
        r = rng.random()
        if r < 0.45:
            op = rng.choice((b"Tc", b"Tw", b"Ts", b"TL", b"Tz"))
            ops.append(b"%s %s (%s) Tj " % (numtok(), op, word()))
        elif r < 0.65:
            ops.append(b"%s %s Td (%s) Tj " % (numtok(), numtok(), word()))
        elif r < 0.8:
            els = b" ".join(
                rng.choice((b"(%s)" % word(), numtok())) for _ in range(3)
            )
            ops.append(b"[%s] TJ " % els)
        elif r < 0.9:
            # graceful zero operand shifting arity
            ops.append(b"%s + Td (%s) Tj " % (numtok(), word()))
        else:
            ops.append(b"<4142%s Tj (%s) Tj " % (
                rng.choice((b"4>", b">", b"434>")), word()))
    # ~1 in 4 docs end in a lexer throw (two-token-early page stop)
    if rng.random() < 0.25:
        ops.append(rng.choice((
            b"+x ", b".q ", b"-(k) Tj ", b") ", b"Z" * 140 + b" ",
            b"<4142 Tj ", b"(open Tj ",
        )))
        ops.append(b"(%s) Tj " % word())
    ops.append(b"ET")
    return b"".join(ops)


def test_numlex_probes_byte_equal_vs_live_reference(tmp_path):
    """Distilled getNumber / lexer-throw probes, each verified against
    the live node reference during the round-5 build."""
    H = b"BT /F1 12 Tf 100 700 Td "
    A = H + b"(ab) Tj "
    _run_differential(
        tmp_path,
        [_assemble(c) for c in [
            A + b"0 -4e1 Td (z) Tj ET",
            A + b"0 -4E+1 Td (z) Tj ET",
            A + b"3e0 Tc (cd) Tj ET",
            A + b"0 -40 Td 1e (z) Tj ET",
            A + b"5e+ Tc (cd) Tj ET",
            A + b"0 5-6 Td (z) Tj ET",
            A + b"1-5 Tc (cd) Tj ET",
            A + b"0 -\n40 Td (z) Tj ET",
            A + b"0 --40 Td (z) Tj ET",
            A + b"0 -40 + Td (z) Tj ET",
            A + b"0 -40 . Td (z) Tj ET",
            A + b"+x 0 -40 Td (z) Tj ET",
            A + b".q 0 -40 Td (z) Tj ET",
            A + b"-(a) Tj 0 -40 Td (z) Tj ET",
            A + b"0 -4.e1 Td (z) Tj ET",
            A + b"0 1.2.3 Td (z) Tj ET",
            A + b"[(a) 5e3 (b)] TJ (z) Tj ET",
            A + b"[(a) 5-3 (b)] TJ (z) Tj ET",
            A + b"[(a) + (b)] TJ (z) Tj ET",
            A + b"[(a) .q (b)] TJ (z) Tj ET",
            A + b"5 0e0 R Td (z) Tj ET",
            A + b"(cd) Tj (ef) Tj +x ET",
            A + b"(cd) Tj (ef) Tj (gh) Tj +x ET",
            A + b"(cd) Tj +x (zz) Tj ET",
            A + b"(cd) Tj (ef) Tj ) (zz) Tj ET",
            H + b"(ab) Tj +x ET",
            H + b"(ab) Tj ET +x",
            A + b"+ (cd) Tj ET",
            A + b"(cd) Tj " + b"Z" * 140 + b" (zz) Tj ET",
            A + b"(cd) Tj " + b"Z" * 128 + b" (zz) Tj ET",
            A + b"(cd Tj (zz) Tj ET",
            A + b"<4142 Tj (zz) Tj ET",
            H + b"<414> Tj ET",
            H + b"<41424> Tj (z) Tj ET",
            A + b"3e0 Tc (cd) Tj 0.03e2 Tc (ef) Tj ET",
            A + b"-\n3 Ts (cd) Tj ET",
            A + b"q (cd) Tj +x Q (zz) Tj ET",
            A + b"BI /W 1 ID \x01 EI Q (cd) Tj +x ET",
            A + b"BI /W 1 ID \x01 EI (cd) Tj +x ET",
        ]],
    )


def test_numlex_streams_byte_equal_vs_live_reference(tmp_path):
    """Seeded getNumber / lexer-throw fuzz sweep vs the live node
    reference."""
    rng = random.Random(0x90B13)
    _run_differential(
        tmp_path,
        [_assemble(_gen_numlex_stream(rng)) for _ in range(24)],
    )


def test_window_dict_form_isolation_byte_equal_vs_live_reference(tmp_path):
    """Mixed pinned probes from the round-5 session-3 sweeps: the
    15-byte-window mini-lexer edges (')' throws = page stop, '%' comment
    skip, graceful-0 number operand, hex operand, '[' rejects), top-level
    dict recovery (junk keys info-skipped, unterminated dict = page
    stop, throwing value), and FORM-FRAME ISOLATION — a lexer throw /
    stray ')' / 34-operand stop inside a Form XObject resolves that
    frame with its partial text (its own ignoreErrors catch,
    pdf.worker.js:37129-37140) while the outer page continues; a throw
    in the OUTER stream before the Do erases the Do (two-token
    lookahead)."""
    H = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (pre) Tj "
    T = b" (tail) Tj ET"
    D = b"BI /W 2 /H 2 /BPC 8 /CS /G ID"
    docs = [_assemble(c) for c in [
        H + D + b" \x01 EI ) Q" + T,
        H + D + b" \x01 EI % c\nQ (m) Tj EI Q" + T,
        H + D + b" \x01 EI +z Q (m) Tj EI Q" + T,
        H + D + b" \x01 EI + Tz (m) Tj EI Q" + T,
        H + D + b" \x01 EI <41> Tj (m) Tj EI Q" + T,
        H + D + b" \x01 EI [ (m) ] TJ EI Q" + T,
        H + b"<< 5 /A 7 >> zz (mid) Tj" + T,
        H + b"<< (s) >> zz (mid) Tj" + T,
        H + b"<< /A 7 (mid) Tj ET",
        H + b"(q) Tj << /A +z >> (mid) Tj" + T,
        H + b"<< /A 5 0 R >> (mid) Tj" + T,
    ]]
    O = b"BT /F1 12 Tf 100 700 Td (out1) Tj /Fm Do (out2) Tj ET"
    F = b"BT /F1 10 Tf 50 600 Td "
    docs += [_assemble_with_form(b"", o, f) for o, f in [
        (O, F + b"(fa) Tj (fb) Tj (fc) Tj +x ET"),
        (O, F + b"(fa) Tj +x (fz) Tj ET"),
        (O, F + b"(fa) Tj (fb) Tj ) ET"),
        (O, F + b"(fa) Tj BI /W 1 ID \x01\x02 XY ET"),
        (O, F + b"(fa) Tj BI /W 1 ID \x01 EI Q (fb) Tj ET"),
        (O, F + b"(fa) Tj 5 -40 R Td (fb) Tj ET"),
        (O, F + b"(fa) Tj 0 -40 + Td (fb) Tj ET"),
        (O, F + b"(fa) Tj (fb Tj ET"),
        (b"BT /F1 12 Tf 100 700 Td (o1) Tj +x /Fm Do ET",
         F + b"(ff) Tj ET"),
        (O, F + b"(fa) Tj " + b" ".join(b"%d" % i for i in range(34))
         + b" Tm (fz) Tj ET"),
        (O, F + b"(fa) Tj " + b"Z" * 140 + b" (fz) Tj ET"),
    ]]
    _run_differential(tmp_path, docs)


def _gen_lexmix_stream(rng: random.Random) -> bytes:
    """Cross-family kitchen sink for the session-3 lexer veins: inline
    images, `int int R` trios, getNumber token shapes, graceful-0
    operands, TJ arrays with inert elements, and (rarely) lexer throws —
    mixed INTO form bodies and around Do, where frame isolation, the
    two-token lookahead, clone inheritance and the stash interact.
    Returns a complete PDF document (uses _assemble_with_form)."""
    words = WORDS

    def word():
        return rng.choice(words).encode()

    def numtok():
        return rng.choice((
            b"3", b"-40", b"1.5", b"4e1", b"5-6", b"-\n12", b"--7",
            b"0.03e2", b".25", b"5.",
        ))

    def soup(depth_form: bool) -> bytes:
        ops = [b"BT /F1 %d Tf 40 TL %d %d Td (%s) Tj "
               % (rng.choice((10, 12)), rng.randrange(50, 150),
                  rng.randrange(500, 720), word())]
        for _ in range(rng.randrange(3, 8)):
            r = rng.random()
            if r < 0.2:
                op = rng.choice((b"Tc", b"Tw", b"Ts", b"TL", b"Tz"))
                ops.append(b"%s %s (%s) Tj " % (numtok(), op, word()))
            elif r < 0.35:
                ops.append(b"%s %s Td (%s) Tj "
                           % (numtok(), numtok(), word()))
            elif r < 0.5:
                els = b" ".join(rng.choice((
                    b"(%s)" % word(), numtok(),
                    b"%s %s R" % (numtok(), numtok()),
                    b"true", b"/N", b"qq",
                )) for _ in range(rng.randrange(1, 4)))
                ops.append(b"[%s] TJ " % els)
            elif r < 0.62:
                trio = b"%s %s %s" % (numtok(), numtok(),
                                      rng.choice((b"R", b"R", b"Rz")))
                op = rng.choice((b"Td", b"Tc", b"Tz", b"q", b"BQ"))
                ops.append(b"%s %s (%s) Tj " % (trio, op, word()))
            elif r < 0.74:
                term = rng.choice((b" ", b" ", b"\n", b""))
                data = rng.choice((
                    b"\x01\x02 EI ", b"\x41\x42EI ", b"\x01 EI\t(x) Tj EI ",
                    b"\x01 EI zz (x) Tj EI ", b"\x01\x02 EI \x00Q ",
                ))
                ops.append(b"BI /W 2 /H 2 /BPC 8 /CS /G ID%s%sQ "
                           % (term, data))
            elif r < 0.86:
                ops.append(b"%s + %s (%s) \" "
                           % (numtok(), numtok(), word()))
            else:
                ops.append(b"q %s cm (%s) Tj Q "
                           % (b" ".join(numtok() for _ in range(6)),
                              word()))
        if not depth_form and rng.random() < 0.15:
            ops.append(rng.choice((
                b"+x ", b".q ", b") ", b"(open Tj ", b"<4142 Tj ",
            )))
            ops.append(b"(%s) Tj " % word())
        ops.append(b"ET")
        return b"".join(ops)

    outer = soup(False)
    if rng.random() < 0.7:
        # splice a Do into the outer stream (before ET)
        cut = outer.rfind(b"ET")
        outer = outer[:cut] + b"/Fm Do (%s) Tj " % word() + outer[cut:]
    form = soup(True)
    if rng.random() < 0.3:
        cut2 = form.rfind(b"ET")
        form = form[:cut2] + rng.choice((
            b"+x ", b") ", b"(fa) Tj +x (fb) Tj ",
        )) + form[cut2:]
    mat = rng.choice((b"", b"/Matrix [1 0 0 1 20 -30]",
                      b"/Matrix [2 0 0 2 0 0]"))
    return _assemble_with_form(mat, outer, form)


def test_lexmix_streams_byte_equal_vs_live_reference(tmp_path):
    """Seeded cross-family sweep vs the live node reference."""
    rng = random.Random(0x13A6)
    _run_differential(
        tmp_path,
        [_gen_lexmix_stream(rng) for _ in range(24)],
    )


def _assemble_multi_contents(streams: list[bytes]) -> bytes:
    """One-page doc whose /Contents is an ARRAY of streams. pdf.js
    concatenates them with NO separator (StreamsSequenceStream,
    pdf.worker.js:7879-7901) — a token may span two streams."""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 4 0 R >> >> "
        b"/Contents [%s] >>" % b" ".join(
            b"%d 0 R" % (5 + i) for i in range(len(streams))),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    for s in streams:
        objs.append(b"<< /Length %d >>\nstream\n%s\nendstream"
                    % (len(s), s))
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, o)
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offs:
        out += b"%010d 00000 n \n" % off
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (len(objs) + 1, xref))
    return bytes(out)


def _gen_split_contents_stream(rng: random.Random) -> bytes:
    """A soup stream randomly CUT into 2-4 /Contents array streams at
    arbitrary byte positions (mid-string, mid-number, mid-command):
    concatenation must be separator-free, so every split parses
    byte-identically to the unsplit stream."""
    content = _gen_stream(rng)
    ncuts = rng.randrange(1, 4)
    cuts = sorted(rng.sample(range(1, max(2, len(content))),
                             min(ncuts, len(content) - 1)))
    parts = []
    prev = 0
    for cpos in cuts:
        parts.append(content[prev:cpos])
        prev = cpos
    parts.append(content[prev:])
    return _assemble_multi_contents(parts)


def test_multi_contents_probes_byte_equal_vs_live_reference(tmp_path):
    """Distilled /Contents-array probes, each verified against the live
    node reference during the round-5 build: tokens spanning stream
    boundaries (string, number, command, hex, name), clean and glued
    boundaries, BT/ET across streams, three-way splits."""
    H = b"BT /F1 12 Tf 100 700 Td "
    _run_differential(
        tmp_path,
        [_assemble_multi_contents(s) for s in [
            [H + b"(ab", b"c) Tj (z) Tj ET"],
            [H + b"(ab) Tj 5", b"0 Tc (cd) Tj ET"],
            [H + b"(ab) Tj 5 T", b"c (cd) Tj ET"],
            [H + b"(ab) Tj ", b"(cd) Tj ET"],
            [H + b"(ab) Tj", b"(cd) Tj ET"],
            [b"BT /F1 12 Tf 100 700 Td (ab) Tj", b" (cd) Tj ET"],
            [H + b"<4142", b"43> Tj ET"],
            [b"BT /F", b"1 12 Tf 100 700 Td (ab) Tj ET"],
            [H + b"(ab) Tj ET"],
            [b"BT /F1 12 Tf 100 700 Td (a", b"b) Tj (c", b"d) Tj ET"],
        ]],
    )


def test_contents_junk_elements_byte_equal_vs_live_reference(tmp_path):
    """Junk /Contents elements, probed live: a ref to a MISSING object
    rejects the page's content promise — the WHOLE page extracts empty —
    while resolvable non-stream elements (dicts, ints) are skipped and
    the remaining streams still concatenate; a single non-stream
    Contents and an empty array extract empty."""
    def asm(contents_entry, extra_objs):
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 4 0 R >> >> "
            b"/Contents " + contents_entry + b" >>",
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        ] + extra_objs
        out = bytearray(b"%PDF-1.4\n")
        offs = []
        for i, o in enumerate(objs, 1):
            offs.append(len(out))
            out += b"%d 0 obj\n%s\nendobj\n" % (i, o)
        xref = len(out)
        out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
        for off in offs:
            out += b"%010d 00000 n \n" % off
        out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n"
                b"%d\n%%%%EOF\n" % (len(objs) + 1, xref))
        return bytes(out)

    S1 = b"BT /F1 12 Tf 100 700 Td (ab) Tj ET"
    S2 = b"BT /F1 12 Tf 100 650 Td (cd) Tj ET"

    def st(s):
        return b"<< /Length %d >>\nstream\n%s\nendstream" % (len(s), s)

    _run_differential(tmp_path, [
        asm(b"[5 0 R 6 0 R 7 0 R]", [st(S1), b"<< /Junk 1 >>", st(S2)]),
        asm(b"[5 0 R 99 0 R 6 0 R]", [st(S1), st(S2)]),
        asm(b"[5 0 R 6 0 R 7 0 R]", [st(S1), b"42", st(S2)]),
        asm(b"5 0 R", [b"<< /Junk 1 >>"]),
        asm(b"5 0 R", [b"[6 0 R 7 0 R]", st(S1), st(S2)]),
        asm(b"[]", []),
    ])


def test_split_contents_streams_byte_equal_vs_live_reference(tmp_path):
    """Seeded random-cut /Contents sweep vs the live node reference."""
    rng = random.Random(0x5971)
    _run_differential(
        tmp_path,
        [_gen_split_contents_stream(rng) for _ in range(24)],
    )


def test_bt_et_pairing_byte_equal_vs_live_reference(tmp_path):
    """BT/ET pairing exotica, probed live: shows and text-state ops work
    OUTSIDE any BT/ET (the text state is stream-global; BT only resets
    the matrices), nested/stray/unclosed BT/ET are tolerated, and state
    set between blocks persists into the next BT."""
    _run_differential(
        tmp_path,
        [_assemble(c) for c in [
            b"/F1 12 Tf 100 700 Td (ab) Tj (cd) Tj",
            b"BT /F1 12 Tf 100 700 Td (ab) Tj BT (cd) Tj ET ET",
            b"ET BT /F1 12 Tf 100 700 Td (ab) Tj ET ET (cd) Tj",
            b"ET /F1 12 Tf (ab) Tj",
            b"BT /F1 12 Tf 100 700 Td (ab) Tj",
            b"BT /F1 12 Tf 100 700 Td (ab) Tj ET 0 -40 Td BT (cd) Tj ET",
            b"/F1 12 Tf BT 100 700 Td (ab) Tj ET",
            b"/F1 12 Tf 1 0 0 1 100 700 Tm (ab) Tj BT (cd) Tj ET",
        ]],
    )


def test_deep_q_nesting_byte_equal_vs_live_reference(tmp_path):
    """80-deep q/Q nesting (state restores correctly past our 64-slot
    fast-path save array) and unbalanced restores, probed live. NOT
    covered here: self/mutually-recursive Form XObjects — pdf.js has no
    recursion guard in getTextContent's paintXObject and recurses until
    a V8 stack artifact (~6,272 levels on this node build; an
    environment constant, not a spec'd one) while this engine cuts
    cycles immediately via the `seen` ref-set. Deliberate, documented
    divergence on input that is broken by construction."""
    deep = (b"BT /F1 12 Tf 100 700 Td (ab) Tj "
            + b"q " * 80 + b"5 Tc (cd) Tj " + b"Q " * 80
            + b"(ef) Tj ET")
    deep2 = (b"BT /F1 12 Tf 100 700 Td (ab) Tj "
             + b"q 1 0 0 1 5 5 cm " * 80 + b"(cd) Tj " + b"Q " * 80
             + b"(ef) Tj ET")
    unbal = b"BT /F1 12 Tf 100 700 Td (ab) Tj Q Q 5 Tc (cd) Tj ET"
    _run_differential(tmp_path, [_assemble(c) for c in (deep, deep2,
                                                        unbal)])


def test_stream_length_recovery_byte_equal_vs_live_reference(tmp_path):
    """Wrong /Length recovery (makeStream + #findStreamLength,
    pdf.worker.js:13763-13828): zero/short/long/junk/null lengths all
    recover by scanning for "endstream"; the word endstream INSIDE a
    string truncates the stream there on both engines (page garbage ->
    empty). Probed live, all matching."""
    def asm(content, length_tok):
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>",
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
            b"<< /Length %s >>\nstream\n%s\nendstream"
            % (length_tok, content),
        ]
        out = bytearray(b"%PDF-1.4\n")
        offs = []
        for i, o in enumerate(objs, 1):
            offs.append(len(out))
            out += b"%d 0 obj\n%s\nendobj\n" % (i, o)
        xref = len(out)
        out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
        for off in offs:
            out += b"%010d 00000 n \n" % off
        out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n"
                b"%d\n%%%%EOF\n" % (len(objs) + 1, xref))
        return bytes(out)

    S = b"BT /F1 12 Tf 100 700 Td (ab) Tj (cd) Tj ET"
    _run_differential(tmp_path, [
        asm(S, b"%d" % len(S)),
        asm(S, b"0"),
        asm(S, b"10"),
        asm(S, b"9999"),
        asm(S, b"(x)"),
        asm(S, b"null"),
        asm(b"BT /F1 12 Tf 100 700 Td (endstream) Tj (cd) Tj ET", b"0"),
        asm(S + b"\r", b"0"),
    ])


def test_contents_bad_filter_byte_equal_vs_live_reference(tmp_path):
    """A /Contents sub-stream whose FILTER fails to decode is dropped
    with a warn (Page._onSubStreamError with ignoreErrors) while the
    remaining streams still concatenate — unlike a missing-object ref,
    which rejects the whole page. Probed live, all matching."""
    def asm(extra_objs):
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 4 0 R >> >> "
            b"/Contents [5 0 R 6 0 R 7 0 R] >>",
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        ] + extra_objs
        out = bytearray(b"%PDF-1.4\n")
        offs = []
        for i, o in enumerate(objs, 1):
            offs.append(len(out))
            out += b"%d 0 obj\n%s\nendobj\n" % (i, o)
        xref = len(out)
        out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
        for off in offs:
            out += b"%010d 00000 n \n" % off
        out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n"
                b"%d\n%%%%EOF\n" % (len(objs) + 1, xref))
        return bytes(out)

    S1 = b"BT /F1 12 Tf 100 700 Td (ab) Tj ET"
    S2 = b"BT /F1 12 Tf 100 650 Td (cd) Tj ET"

    def st(s, f=b""):
        return (b"<< /Length %d %s >>\nstream\n%s\nendstream"
                % (len(s), f, s))

    _run_differential(tmp_path, [
        asm([st(S1), st(b"\x99\x98nonsense", b"/Filter /FlateDecode"),
             st(S2)]),
        asm([st(S1), st(b"xx", b"/Filter /NoSuchFilter"), st(S2)]),
        asm([st(b"\x99\x98", b"/Filter /FlateDecode"), st(S1), st(S2)]),
    ])


def test_prev_matrix_tz_divisor_byte_equal_vs_live_reference(tmp_path):
    """The stored prevTransform point must carry its OWN 1/|tz| in the
    Y rows of its normalized matrix: applyInverseRotation divides by
    hypot(trm[0], trm[1]) = fs*|hs|*hypot(a, b), which cancels in the X
    row but scales the Y row by 1/|hs|. A quad-0 glyph stored under
    700 Tz followed by a sheared Tm read the RAW device y, making
    |advanceY| dwarf the item height — the EOL band swallowed pdf.js's
    textOrientation-0 standalone space (distilled from the last live
    residual, arity hunt base 83M seed 149; that 200-doc batch now runs
    0-divergent)."""
    _run_differential(
        tmp_path,
        [_assemble(c) for c in [
            b"/F1 12 Tf 40 TL 100 700 Td 2 5 5 700 Tz (tau) '"
            b" 2 700 30 Tm 30 1.5 (sigma) \"",
            # variants: different Tz magnitudes and shear shapes
            b"/F1 12 Tf 40 TL 100 700 Td 2 5 5 300 Tz (tau) '"
            b" 2 700 30 Tm 30 1.5 (sigma) \"",
            b"/F1 12 Tf 40 TL 100 700 Td 2 5 5 50 Tz (eta) '"
            b" 1 3 3 1 400 100 Tm (omega) Tj",
            b"/F1 12 Tf 40 TL 100 700 Td 200 Tz (mu) Tj"
            b" 2 5 5 2 500 30 Tm (pi) Tj",
            b"/F1 12 Tf 40 TL 100 700 Td 700 Tz (tau) Tj"
            b" 1 1 0 1 300 600 Tm (beta) Tj (kap) Tj",
        ]],
    )


def test_widths_edge_shapes_byte_equal_vs_live_reference(tmp_path):
    """/Widths // FirstChar edge shapes, probed live and all matching:
    inverted FirstChar/LastChar, negative/float FirstChar, junk entries
    inside /Widths, array longer than the range, huge widths driving
    the pen off-page, and a missing /LastChar."""
    def asm(fontobj):
        content = b"BT /F1 12 Tf 100 700 Td (abc def) Tj (gh) Tj ET"
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>",
            fontobj,
            b"<< /Length %d >>\nstream\n%s\nendstream"
            % (len(content), content),
        ]
        out = bytearray(b"%PDF-1.4\n")
        offs = []
        for i, o in enumerate(objs, 1):
            offs.append(len(out))
            out += b"%d 0 obj\n%s\nendobj\n" % (i, o)
        xref = len(out)
        out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
        for off in offs:
            out += b"%010d 00000 n \n" % off
        out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n"
                b"%d\n%%%%EOF\n" % (len(objs) + 1, xref))
        return bytes(out)

    F = b"<< /Type /Font /Subtype /TrueType /BaseFont /Arial"
    _run_differential(tmp_path, [
        asm(F + b" /FirstChar 70 /LastChar 60 /Widths [500 500] >>"),
        asm(F + b" /FirstChar -5 /LastChar 100 /Widths [500 500 500] >>"),
        asm(F + b" /FirstChar 97 /LastChar 104 /Widths"
            b" [500 (x) null 800 true /N 900 1e3] >>"),
        asm(F + b" /FirstChar 97 /LastChar 99 /Widths"
            b" [100 9000 100 100 100 100] >>"),
        asm(F + b" /FirstChar 97 /LastChar 99 /Widths"
            b" [40000 40000 40000] >>"),
        asm(F + b" /FirstChar 97.7 /LastChar 99 /Widths"
            b" [9000 9000 9000] >>"),
        asm(F + b" /FirstChar 97 /Widths [9000 9000 9000] >>"),
    ])


def test_encoding_differences_edges_byte_equal_vs_live_reference(tmp_path):
    """/Encoding edge shapes, probed live: out-of-range Differences
    indexes (300, -1, 100000) write dead JS array properties, a
    FRACTIONAL index (97.9) is dead AND stays fractional through the
    `index++` for following names (the base encoding renders), unknown
    /Encoding names and non-Name /Encoding values fall back cleanly."""
    def asm(fontobj):
        content = b"BT /F1 12 Tf 100 700 Td (abc) Tj (def) Tj ET"
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>",
            fontobj,
            b"<< /Length %d >>\nstream\n%s\nendstream"
            % (len(content), content),
        ]
        out = bytearray(b"%PDF-1.4\n")
        offs = []
        for i, o in enumerate(objs, 1):
            offs.append(len(out))
            out += b"%d 0 obj\n%s\nendobj\n" % (i, o)
        xref = len(out)
        out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
        for off in offs:
            out += b"%010d 00000 n \n" % off
        out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n"
                b"%d\n%%%%EOF\n" % (len(objs) + 1, xref))
        return bytes(out)

    F = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
    _run_differential(tmp_path, [
        asm(F + b" /Encoding << /Differences [300 /zeta] >> >>"),
        asm(F + b" /Encoding << /Differences [-1 /zeta 98 /eta] >> >>"),
        asm(F + b" /Encoding << /Differences [97 /zeta 100000 /xi] >> >>"),
        asm(F + b" /Encoding /NoSuchEncoding >>"),
        asm(F + b" /Encoding 5 >>"),
        asm(F + b" /Encoding (WinAnsi) >>"),
        asm(F + b" /Encoding << /Differences [97.9 /zeta /xi] >> >>"),
        asm(F + b" /Encoding << /Differences [/zeta 98 /eta] >> >>"),
    ])


def _assemble_type0(tounicode_body: bytes | None, content: bytes) -> bytes:
    """Identity-H Type0 font (CIDFontType2 descendant, DW 500), optional
    /ToUnicode CMap stream."""
    tu_ref = b" /ToUnicode 6 0 R" if tounicode_body is not None else b""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 4 0 R >> >> /Contents 8 0 R >>",
        b"<< /Type /Font /Subtype /Type0 /BaseFont /Test /Encoding"
        b" /Identity-H /DescendantFonts [5 0 R]" + tu_ref + b" >>",
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Test"
        b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Identity)"
        b" /Supplement 0 >> /FontDescriptor 7 0 R /DW 500 >>",
        (b"<< /Length %d >>\nstream\n%s\nendstream"
         % (len(tounicode_body), tounicode_body))
        if tounicode_body is not None else b"<< >>",
        b"<< /Type /FontDescriptor /FontName /Test /Flags 4"
        b" /FontBBox [0 0 1000 1000] /ItalicAngle 0 /Ascent 800"
        b" /Descent -200 /CapHeight 700 /StemV 80 >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, o)
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offs:
        out += b"%010d 00000 n \n" % off
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (len(objs) + 1, xref))
    return bytes(out)


def test_tounicode_fallback_edges_byte_equal_vs_live_reference(tmp_path):
    """ToUnicode / Identity-H fallback edges, probed live: unmapped
    charcodes fall back to the CID's char (`toUnicode.get(c) || c`) —
    including NUL and lone surrogates, while whitespace-category CIDs
    (tab/LF) take the space branch; a bfchar dst with an odd BYTE count
    groups UTF-16 units right-aligned (<006100> is U+0000 U+6100, not
    "a"); a bfrange array shorter than its range leaves the tail on the
    fallback; a trailing odd byte in a 2-byte show string is its own
    1-byte charcode; garbage ToUnicode streams degrade to the
    fallback."""
    CM = (b"/CIDInit /ProcSet findresource begin 12 dict begin begincmap "
          b"/CMapName /T currentdict /CMap defineresource pop ")
    C = b"BT /F1 12 Tf 100 700 Td <00410042> Tj ET"
    _run_differential(tmp_path, [
        _assemble_type0(CM + b"2 begincodespacerange <0000> <FFFF>"
                        b" endcodespacerange 2 beginbfchar <0041> <0061>"
                        b" <0042> <0062> endbfchar endcmap end end", C),
        _assemble_type0(CM + b"1 beginbfchar <0041> <006100> endbfchar"
                        b" endcmap end end", C),
        _assemble_type0(CM + b"1 beginbfrange <0041> <0042>"
                        b" [<0063> <0064>] endbfrange endcmap end end", C),
        _assemble_type0(CM + b"1 beginbfrange <0041> <0044> [<0063>]"
                        b" endbfrange endcmap end end", C),
        _assemble_type0(b"\x01\x02 garbage not a cmap", C),
        _assemble_type0(CM + b"1 beginbfchar <0041> <D83DDE00> endbfchar"
                        b" endcmap end end", C),
        _assemble_type0(CM + b"1 beginbfchar <0041> <0061> endbfchar"
                        b" endcmap end end",
                        b"BT /F1 12 Tf 100 700 Td <004100> Tj ET"),
        _assemble_type0(None, C),
        _assemble_type0(None,
                        b"BT /F1 12 Tf 100 700 Td <004100000042> Tj ET"),
        _assemble_type0(None,
                        b"BT /F1 12 Tf 100 700 Td <00410009000A> Tj ET"),
        _assemble_type0(None,
                        b"BT /F1 12 Tf 100 700 Td <0041D800FFFF> Tj ET"),
    ])


def _gen_type0_stream(rng: random.Random) -> bytes:
    """Identity-H Type0 fuzz: randomized ToUnicode CMaps (bfchar/bfrange,
    scalar and array dsts, odd-byte dsts, empty dsts, surrogate pairs),
    random /W width arrays over /DW, and show strings mixing mapped /
    unmapped / control / high charcodes and odd byte counts. Exercises
    the CID fallback (`toUnicode.get(c) || c`), the whitespace-category
    branch, and the right-aligned odd-dst grouping."""
    def hx(n):
        return ("%04X" % n).encode()

    ents = []
    mapped = []
    for _ in range(rng.randrange(0, 5)):
        src = rng.randrange(0x20, 0x200)
        mapped.append(src)
        dst = rng.choice((
            hx(rng.randrange(0x61, 0x7A)),
            hx(rng.randrange(0x3040, 0x30FF)),
            b"0061006200",          # odd-byte dst
            b"D83DDE00",            # surrogate pair
            b"",                    # empty dst: falls back
            hx(rng.randrange(0x61, 0x7A)) + hx(rng.randrange(0x61, 0x7A)),
        ))
        ents.append(b"<%s> <%s>" % (hx(src), dst))
    bf = b""
    if ents:
        bf += b"%d beginbfchar %s endbfchar " % (len(ents), b" ".join(ents))
    if rng.random() < 0.5:
        lo = rng.randrange(0x40, 0x100)
        hi = lo + rng.randrange(1, 5)
        if rng.random() < 0.5:
            bf += (b"1 beginbfrange <%s> <%s> <%s> endbfrange "
                   % (hx(lo), hx(hi), hx(rng.randrange(0x61, 0x7A))))
        else:
            arr = b" ".join(b"<%s>" % hx(rng.randrange(0x61, 0x7A))
                            for _ in range(rng.randrange(1, hi - lo + 2)))
            bf += (b"1 beginbfrange <%s> <%s> [%s] endbfrange "
                   % (hx(lo), hx(hi), arr))
    cm = (b"/CIDInit /ProcSet findresource begin 12 dict begin begincmap "
          b"/CMapName /T currentdict /CMap defineresource pop "
          b"1 begincodespacerange <0000> <FFFF> endcodespacerange "
          + bf + b"endcmap end end") if (bf or rng.random() < 0.5) else None
    codes = []
    for _ in range(rng.randrange(2, 8)):
        r = rng.random()
        if r < 0.4 and mapped:
            codes.append(rng.choice(mapped))
        elif r < 0.6:
            codes.append(rng.randrange(0x41, 0x5B))
        elif r < 0.75:
            c = rng.choice((0, 9, 10, 13, 0x1F))
            # CONSECUTIVE whitespace-category CIDs excluded: their
            # summed advance exceeds spaceInFlowMax and pdf.js's
            # per-glyph machinery splits the item out-of-flow — the
            # multibyte path here is item-level (documented residual,
            # see ROADMAP "per-glyph multibyte assembly")
            if c in (9, 10, 13) and codes and codes[-1] in (9, 10, 13):
                c = 0x1F
            codes.append(c)
        else:
            codes.append(rng.randrange(0x20, 0xFFF0))
    show = b"".join(b"%04X" % c for c in codes)
    if rng.random() < 0.25:
        show += b"00"  # trailing odd byte
    content = (b"BT /F1 %d Tf 40 TL 100 700 Td <%s> Tj "
               % (rng.choice((10, 12)), show))
    if rng.random() < 0.5:
        show2 = b"".join(b"%04X" % rng.randrange(0x20, 0x300)
                         for _ in range(rng.randrange(1, 4)))
        content += b"<%s> %s " % (show2, rng.choice((b"Tj", b"'")))
    content += b"ET"
    return _assemble_type0(cm, content)


def test_type0_streams_byte_equal_vs_live_reference(tmp_path):
    """Seeded Type0/ToUnicode fuzz sweep vs the live node reference."""
    rng = random.Random(0x7E00)
    _run_differential(
        tmp_path,
        [_gen_type0_stream(rng) for _ in range(24)],
    )


def test_tj_over_string_c_path_byte_equal_vs_live_reference(tmp_path):
    """TJ over a plain STRING operand (e.g. after a stray ']' that keeps
    the operand) shows like Tj — the C fast path silently dropped it
    (found by the 107M zwreg reduction); pre-Tf and number operands
    no-op on both engines."""
    _run_differential(
        tmp_path,
        [_assemble(c) for c in [
            b"BT /F1 12 Tf 100 700 Td (abc)] TJ (z) Tj ET",
            b"BT /F1 12 Tf 100 700 Td (abc) ] TJ (z) Tj ET",
            b"BT /F1 12 Tf 100 700 Td (abc) TJ (z) Tj ET",
            b"BT 100 700 Td (abc) TJ /F1 12 Tf (z) Tj ET",
            b"BT /F1 12 Tf 100 700 Td (a) Tj 5 TJ (z) Tj ET",
        ]],
    )
