"""Deterministic 5x7 bitmap font for the stdlib overlay painter.

Closes the one reference output the sandbox could not previously
reproduce: label TEXT
(src/doclayout/visualization/renderer.py:104-143 cv2.putText). cv2's Hershey vector glyphs need cv2; this is
the classic public-domain 5x7 dot-matrix letterform (HD44780-style)
expressed as auditable ASCII art and painted by pure numpy slicing —
bytes are deterministic, no codec or font dependency. The
``render_overlays`` strict seam remains for deployments that need
cv2-glyph-IDENTICAL pixels; everything else (position, color, background
bar geometry) follows the reference.

Each glyph is 7 rows x 5 cols; 'X' = ink. Unknown characters render as a
hollow box (explicit, never silently skipped — a missing glyph should be
visible in the artifact and in tests).
"""

from __future__ import annotations

FONT_W = 5
FONT_H = 7
ADVANCE = FONT_W + 1  # one blank column between glyphs

_RAW = {
    "0": (".XXX.", "X...X", "X..XX", "X.X.X", "XX..X", "X...X", ".XXX."),
    "1": ("..X..", ".XX..", "..X..", "..X..", "..X..", "..X..", ".XXX."),
    "2": (".XXX.", "X...X", "....X", "...X.", "..X..", ".X...", "XXXXX"),
    "3": ("XXXXX", "...X.", "..X..", "...X.", "....X", "X...X", ".XXX."),
    "4": ("...X.", "..XX.", ".X.X.", "X..X.", "XXXXX", "...X.", "...X."),
    "5": ("XXXXX", "X....", "XXXX.", "....X", "....X", "X...X", ".XXX."),
    "6": ("..XX.", ".X...", "X....", "XXXX.", "X...X", "X...X", ".XXX."),
    "7": ("XXXXX", "....X", "...X.", "..X..", ".X...", ".X...", ".X..."),
    "8": (".XXX.", "X...X", "X...X", ".XXX.", "X...X", "X...X", ".XXX."),
    "9": (".XXX.", "X...X", "X...X", ".XXXX", "....X", "...X.", ".XX.."),
    "A": (".XXX.", "X...X", "X...X", "XXXXX", "X...X", "X...X", "X...X"),
    "B": ("XXXX.", "X...X", "X...X", "XXXX.", "X...X", "X...X", "XXXX."),
    "C": (".XXX.", "X...X", "X....", "X....", "X....", "X...X", ".XXX."),
    "D": ("XXXX.", "X...X", "X...X", "X...X", "X...X", "X...X", "XXXX."),
    "E": ("XXXXX", "X....", "X....", "XXXX.", "X....", "X....", "XXXXX"),
    "F": ("XXXXX", "X....", "X....", "XXXX.", "X....", "X....", "X...."),
    "G": (".XXX.", "X...X", "X....", "X.XXX", "X...X", "X...X", ".XXXX"),
    "H": ("X...X", "X...X", "X...X", "XXXXX", "X...X", "X...X", "X...X"),
    "I": (".XXX.", "..X..", "..X..", "..X..", "..X..", "..X..", ".XXX."),
    "J": ("..XXX", "...X.", "...X.", "...X.", "...X.", "X..X.", ".XX.."),
    "K": ("X...X", "X..X.", "X.X..", "XX...", "X.X..", "X..X.", "X...X"),
    "L": ("X....", "X....", "X....", "X....", "X....", "X....", "XXXXX"),
    "M": ("X...X", "XX.XX", "X.X.X", "X.X.X", "X...X", "X...X", "X...X"),
    "N": ("X...X", "XX..X", "X.X.X", "X..XX", "X...X", "X...X", "X...X"),
    "O": (".XXX.", "X...X", "X...X", "X...X", "X...X", "X...X", ".XXX."),
    "P": ("XXXX.", "X...X", "X...X", "XXXX.", "X....", "X....", "X...."),
    "Q": (".XXX.", "X...X", "X...X", "X...X", "X.X.X", "X..X.", ".XX.X"),
    "R": ("XXXX.", "X...X", "X...X", "XXXX.", "X.X..", "X..X.", "X...X"),
    "S": (".XXXX", "X....", "X....", ".XXX.", "....X", "....X", "XXXX."),
    "T": ("XXXXX", "..X..", "..X..", "..X..", "..X..", "..X..", "..X.."),
    "U": ("X...X", "X...X", "X...X", "X...X", "X...X", "X...X", ".XXX."),
    "V": ("X...X", "X...X", "X...X", "X...X", "X...X", ".X.X.", "..X.."),
    "W": ("X...X", "X...X", "X...X", "X.X.X", "X.X.X", "XX.XX", "X...X"),
    "X": ("X...X", "X...X", ".X.X.", "..X..", ".X.X.", "X...X", "X...X"),
    "Y": ("X...X", "X...X", ".X.X.", "..X..", "..X..", "..X..", "..X.."),
    "Z": ("XXXXX", "....X", "...X.", "..X..", ".X...", "X....", "XXXXX"),
    "a": (".....", ".....", ".XXX.", "....X", ".XXXX", "X...X", ".XXXX"),
    "b": ("X....", "X....", "XXXX.", "X...X", "X...X", "X...X", "XXXX."),
    "c": (".....", ".....", ".XXXX", "X....", "X....", "X....", ".XXXX"),
    "d": ("....X", "....X", ".XXXX", "X...X", "X...X", "X...X", ".XXXX"),
    "e": (".....", ".....", ".XXX.", "X...X", "XXXXX", "X....", ".XXX."),
    "f": ("..XX.", ".X..X", ".X...", "XXX..", ".X...", ".X...", ".X..."),
    "g": (".....", ".XXXX", "X...X", "X...X", ".XXXX", "....X", ".XXX."),
    "h": ("X....", "X....", "XXXX.", "X...X", "X...X", "X...X", "X...X"),
    "i": ("..X..", ".....", ".XX..", "..X..", "..X..", "..X..", ".XXX."),
    "j": ("...X.", ".....", "..XX.", "...X.", "...X.", "X..X.", ".XX.."),
    "k": ("X....", "X....", "X..X.", "X.X..", "XX...", "X.X..", "X..X."),
    "l": (".XX..", "..X..", "..X..", "..X..", "..X..", "..X..", ".XXX."),
    "m": (".....", ".....", "XX.X.", "X.X.X", "X.X.X", "X.X.X", "X.X.X"),
    "n": (".....", ".....", "XXXX.", "X...X", "X...X", "X...X", "X...X"),
    "o": (".....", ".....", ".XXX.", "X...X", "X...X", "X...X", ".XXX."),
    "p": (".....", "XXXX.", "X...X", "X...X", "XXXX.", "X....", "X...."),
    "q": (".....", ".XXXX", "X...X", "X...X", ".XXXX", "....X", "....X"),
    "r": (".....", ".....", "X.XX.", "XX..X", "X....", "X....", "X...."),
    "s": (".....", ".....", ".XXXX", "X....", ".XXX.", "....X", "XXXX."),
    "t": (".X...", ".X...", "XXX..", ".X...", ".X...", ".X..X", "..XX."),
    "u": (".....", ".....", "X...X", "X...X", "X...X", "X..XX", ".XX.X"),
    "v": (".....", ".....", "X...X", "X...X", "X...X", ".X.X.", "..X.."),
    "w": (".....", ".....", "X...X", "X...X", "X.X.X", "X.X.X", ".X.X."),
    "x": (".....", ".....", "X...X", ".X.X.", "..X..", ".X.X.", "X...X"),
    "y": (".....", "X...X", "X...X", ".XXXX", "....X", "X...X", ".XXX."),
    "z": (".....", ".....", "XXXXX", "...X.", "..X..", ".X...", "XXXXX"),
    " ": (".....", ".....", ".....", ".....", ".....", ".....", "....."),
    ".": (".....", ".....", ".....", ".....", ".....", ".XX..", ".XX.."),
    ",": (".....", ".....", ".....", ".....", ".XX..", ".XX..", ".X..."),
    "-": (".....", ".....", ".....", ".XXX.", ".....", ".....", "....."),
    "_": (".....", ".....", ".....", ".....", ".....", ".....", "XXXXX"),
    ":": (".....", ".XX..", ".XX..", ".....", ".XX..", ".XX..", "....."),
    "(": ("...X.", "..X..", ".X...", ".X...", ".X...", "..X..", "...X."),
    ")": (".X...", "..X..", "...X.", "...X.", "...X.", "..X..", ".X..."),
    "#": (".X.X.", ".X.X.", "XXXXX", ".X.X.", "XXXXX", ".X.X.", ".X.X."),
    "%": ("XX..X", "XX..X", "...X.", "..X..", ".X...", "X..XX", "X..XX"),
    "/": ("....X", "...X.", "...X.", "..X..", ".X...", ".X...", "X...."),
    "'": ("..X..", "..X..", "..X..", ".....", ".....", ".....", "....."),
    '"': (".X.X.", ".X.X.", ".X.X.", ".....", ".....", ".....", "....."),
    "!": ("..X..", "..X..", "..X..", "..X..", "..X..", ".....", "..X.."),
    "?": (".XXX.", "X...X", "....X", "...X.", "..X..", ".....", "..X.."),
    "+": (".....", "..X..", "..X..", "XXXXX", "..X..", "..X..", "....."),
    "=": (".....", ".....", "XXXXX", ".....", "XXXXX", ".....", "....."),
}
_UNKNOWN = ("XXXXX", "X...X", "X...X", "X...X", "X...X", "X...X", "XXXXX")


def glyph_mask(ch: str):
    """(7, 5) bool ink mask for one character (hollow box if unknown)."""
    import numpy as np

    rows = _RAW.get(ch, _UNKNOWN)
    return np.array([[c == "X" for c in row] for row in rows], dtype=bool)


def text_width(s: str) -> int:
    """Painted width in px: 5 per glyph + 1 gap between glyphs."""
    return max(0, len(s) * ADVANCE - 1)


def draw_text(img, x: int, y: int, s: str, rgb) -> None:
    """Paint ``s`` with its top-left corner at (x, y) in color ``rgb``
    (length-3 uint8). Writes are clipped at every canvas edge (negative
    coordinates included) — the reference's cv2 calls clip the same way,
    and an unchecked numpy row write would wrap or raise."""
    import numpy as np

    h, w = img.shape[:2]
    rgb = np.asarray(rgb, np.uint8)
    for i, ch in enumerate(s):
        gx = x + i * ADVANCE
        if gx >= w or gx + FONT_W <= 0 or y >= h or y + FONT_H <= 0:
            continue
        mask = glyph_mask(ch)
        r0, r1 = max(0, y), min(h, y + FONT_H)
        c0, c1 = max(0, gx), min(w, gx + FONT_W)
        sub = mask[r0 - y:r1 - y, c0 - gx:c1 - gx]
        region = img[r0:r1, c0:c1]
        region[sub] = rgb
