import sys
from pathlib import Path

# make ``import perfbench`` work from any working directory
sys.path.insert(0, str(Path(__file__).resolve().parents[2]))
