"""Small helpers shared by the library and its tests: the Arrow
local-frame builder."""
