"""Paths of the checkout the tests run from, so that each checkout reads
its own fixtures and tools."""

from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
FIXTURES = ROOT / "fixtures"
TOOLS = str(ROOT / "tools")
