"""Single-document extraction surface (reference extractor.py:6-44).

The distributed path is operators/extract.py; this is the convenience
wrapper for one document.  It runs the same classifier kernel
(``classify_blocks``, the scoring half of ``extract_rows``) on a
one-document batch and returns the positive nodes' XPaths (the
reference's ``extract_from_html`` contract) or the ordered content block
texts.
"""

from __future__ import annotations

from learnhtml_spark.model import NodeClassifier
from learnhtml_spark.operators.extract import classify_blocks


class HTMLExtractor:
    def __init__(self, model: NodeClassifier, depth: int = 5, height: int = 5):
        self.model = model
        self.depth = depth
        self.height = height

    def _content_blocks(self, html: str) -> list[tuple]:
        """(block, path) of every block classified as content, in document
        order.  Raises ValueError with the kernel's error text when the
        document fails."""
        span = {"kind": "html", "text": html, "media_ref": None, "offset": 0}
        scored, errors = classify_blocks(
            [(None, [span])], self.model, self.depth, self.height
        )
        if errors:
            raise ValueError(errors[0][2])
        _, blocks, paths, positive, _, _ = scored[0]
        return [(b, p) for b, p in zip(blocks, paths) if p in positive]

    def extract_from_html(self, html: str) -> list[str]:
        """XPaths of content nodes (prediction == 1), document order."""
        return list(dict.fromkeys(p for _, p in self._content_blocks(html)))

    def extract_text_blocks(self, html: str) -> list[str]:
        """Ordered content block texts."""
        return [b.text for b, _ in self._content_blocks(html)]

    @classmethod
    def load(cls, path: str, **kw) -> "HTMLExtractor":
        from learnhtml_spark.exact_model import load_any_model_path

        return cls(load_any_model_path(path), **kw)
