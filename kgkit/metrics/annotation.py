"""Annotation label universe: scheme inference + completeness repair +
canonical ordering (SURVEY §2.1 `Annotation`; reference
nerblackbox/modules/ner_training/annotation_tags/annotation.py:21-85).

The distributed half — discovering the observed label set — is the
``label_set`` query (explode + distinct); this module is the driver-side
repair/sort applied to that (tiny) collected set, exactly as the
reference applies it to a scanned dataset's tags."""

from __future__ import annotations

from typing import List, Tuple


def infer_scheme(classes: List[str]) -> str:
    """'bilou' if any L-/U- prefix, 'bio' if any '-', else 'plain'."""
    if any(t.startswith("L-") or t.startswith("U-") for t in classes):
        return "bilou"
    if any("-" in t for t in classes):
        return "bio"
    return "plain"


def repair_and_sort(classes: List[str]) -> Tuple[str, List[str]]:
    """-> (scheme, classes): every B-X gains its I-X (bio) or I-/L-/U-X
    (bilou) partners; order is 'O' first, rest lexicographic."""
    scheme = infer_scheme(classes)
    out = list(classes)
    partners = {"bio": ["I-"], "bilou": ["I-", "L-", "U-"]}.get(scheme, [])
    for tag in [t for t in out if t.startswith("B-")]:
        for prefix in partners:
            partner = prefix + tag[2:]
            if partner not in out:
                out.append(partner)
    return scheme, ["O"] + sorted(t for t in out if t != "O")
